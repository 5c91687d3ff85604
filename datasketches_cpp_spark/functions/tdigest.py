"""t-digest — tail-accurate quantiles as a Spark two-stage aggregate.

Re-derivation of the reference's t-digest semantics
(/root/reference/tdigest/include/tdigest.hpp:35-125: centroid (mean, weight)
clusters, K_2 scale function q(1-q)-normalized, buffered merge-compress) —
NOT a port: the compressor here is a single vectorized numpy pass that
assigns sorted points to clusters by integer crossings of the K_2 scale
function (Dunning & Ertl 2019, "Computing extremely accurate quantiles
using t-digests", eq. for k_2(q) = δ/Z · ln(q/(1-q))), then folds each
cluster with one `np.add.reduceat`. That keeps rank error ~q(1-q)/δ —
accuracy concentrated at the tails, exactly where KLL's uniform rank error
is the wrong tool (p99/p99.9 outlier-length cuts in LLM data pipelines).

Spark mapping (same contract as quantiles.kll_sketch_agg, through
`_twostage.sketch_agg`): partial digests per input partition (update =
buffer + compress once per batch), shuffle carries only (≤ ~2δ centroids,
min, max, n) per group, final merge = concat centroids + one recompress.
Associative and bounded-size, so the shuffle never carries raw rows.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ._twostage import read_columns, sketch_agg
from .quantiles import SortedView, _float_items

DEFAULT_K = 200  # reference tdigest.hpp DEFAULT_K


def _k2_normalizer(delta: float, n: float) -> float:
    # Z(δ, n) = 4 ln(n/δ) + 24 (Dunning & Ertl; reference scale_function K_2)
    return 4.0 * math.log(max(n / delta, 1.0 + 1e-9)) + 24.0


def _compress(
    means: np.ndarray, weights: np.ndarray, delta: int
) -> tuple[np.ndarray, np.ndarray]:
    """One vectorized compression pass: sort by mean, map each point's mid-
    rank q to k_2(q), cut clusters where floor(k_2) advances, fold with
    reduceat. Deterministic (no RNG) and idempotent-ish: recompressing a
    compressed digest changes nothing materially."""
    if len(means) == 0:
        return means.astype(np.float64), weights.astype(np.float64)
    order = np.argsort(means, kind="stable")
    m = means[order].astype(np.float64)
    w = weights[order].astype(np.float64)
    total = w.sum()
    if total <= 0:
        return np.empty(0, np.float64), np.empty(0, np.float64)
    # mid-rank of each (possibly weighted) point
    cw = np.cumsum(w)
    q = (cw - 0.5 * w) / total
    eps = 0.5 / max(total, 2.0)
    q = np.clip(q, eps, 1.0 - eps)
    z = _k2_normalizer(float(delta), float(total))
    kq = (delta / z) * np.log(q / (1.0 - q))
    cluster = np.floor(kq)
    # cluster boundaries -> reduceat segment starts
    starts = np.flatnonzero(np.diff(cluster, prepend=cluster[0] - 1))
    seg_w = np.add.reduceat(w, starts)
    seg_mw = np.add.reduceat(m * w, starts)
    return seg_mw / seg_w, seg_w


class TDigest:
    """Driver/test-side digest object (the Spark agg carries its fields as
    columns). Tracks exact min/max like the reference (tdigest.hpp get_min/
    get_max) so extreme quantiles are exact."""

    __slots__ = ("delta", "means", "weights", "n", "min", "max")

    def __init__(self, delta: int = DEFAULT_K):
        self.delta = delta
        self.means = np.empty(0, np.float64)
        self.weights = np.empty(0, np.float64)
        self.n = 0
        self.min = math.inf
        self.max = -math.inf

    # -- update ---------------------------------------------------------------
    def update_batch(self, values: np.ndarray) -> None:
        v = np.asarray(values, np.float64)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return
        v = v + 0.0  # -0.0 -> +0.0, see quantiles.KllSketch.update_batch
        self.n += len(v)
        self.min = min(self.min, float(v.min()))
        self.max = max(self.max, float(v.max()))
        self.means, self.weights = _compress(
            np.concatenate([self.means, v]),
            np.concatenate([self.weights, np.ones(len(v), np.float64)]),
            self.delta,
        )

    # -- merge ----------------------------------------------------------------
    def merge(self, other: "TDigest") -> None:
        """Reference tdigest::merge (tdigest_impl.hpp:71-79): no parameter
        restriction — the other digest's centroids re-compress under THIS
        digest's delta."""
        if other.n == 0:
            return
        self.n += other.n
        self.min = min(self.min, other.min)
        self.max = max(self.max, other.max)
        self.means, self.weights = _compress(
            np.concatenate([self.means, other.means]),
            np.concatenate([self.weights, other.weights]),
            self.delta,
        )

    # -- queries --------------------------------------------------------------
    def sorted_view(self) -> SortedView:
        """The centroids as point masses, means ascending: the view the
        generic KS test consumes (quantiles.ks_delta). The getters below
        interpolate instead of reading it."""
        order = np.argsort(self.means, kind="stable")
        return SortedView(self.means[order], np.cumsum(self.weights[order]))

    def num_retained(self) -> int:
        return int(len(self.means))

    def ks_epsilon(self) -> float:
        """Additive rank-error term for the generic KS threshold. t-digest
        publishes no distribution-free rank-error constant; the k2 scale
        function bounds each centroid's normalized weight by ~1/delta at
        the distribution center, so 1/delta is the conservative additive
        term. ENGINE EXTENSION (the reference instantiates KS only over
        KLL/classic); tail-heavy comparisons are tighter than this bound,
        never looser."""
        return 1.0 / self.delta

    def get_quantile(self, rank: float) -> float:
        """The published t-digest quantile rule (tdigest_impl.hpp
        get_quantile): unit-weight tail stretches to exact min/max, snapping
        to singleton centroids, weighted-average interpolation between
        adjacent centroid mid-ranks.

        DOCUMENTED DEVIATION: the C++ reference transposes the two
        interpolation weights in the interior case (tdigest_impl.hpp:214
        passes w1 = weight − left_anchor as the weight of the LEFT mean, so
        the returned value slides toward the wrong neighbour; Dunning's
        reference Java implementation passes them swapped).  This engine
        interpolates in the standard orientation, which measurably tightens
        mid-range rank error; rank queries (get_rank, which has no such
        transposition) match the reference bit-for-bit — verified against
        reference-generated fixtures in tests/test_reference_interop.py."""
        SortedView.check_rank(rank)
        if self.n == 0:
            return math.nan
        m, w = self.means, self.weights
        if len(m) == 1:
            return float(m[0])
        total = float(w.sum())
        weight = rank * total
        if weight < 1.0:
            return self.min
        if weight > total - 1.0:
            return self.max
        first_w = float(w[0])
        if first_w > 1.0 and weight < first_w / 2.0:
            return float(
                self.min + (weight - 1.0) / (first_w / 2.0 - 1.0) * (m[0] - self.min)
            )
        last_w = float(w[-1])
        if last_w > 1.0 and total - weight <= last_w / 2.0:
            return float(
                self.max + (total - weight - 1.0) / (last_w / 2.0 - 1.0) * (self.max - m[-1])
            )
        # mid-rank of the gap between centroid i and i+1 is
        # cumsum(w)[i] + w[i+1]/2 − w[i]/2 … expressed as the reference's
        # running weight_so_far to keep the float accumulation order identical
        weight_so_far = first_w / 2.0
        for i in range(len(m) - 1):
            dw = (float(w[i]) + float(w[i + 1])) / 2.0
            if weight_so_far + dw > weight:
                left_weight = 0.0
                if w[i] == 1.0:
                    if weight - weight_so_far < 0.5:
                        return float(m[i])
                    left_weight = 0.5
                right_weight = 0.0
                if w[i + 1] == 1.0:
                    if weight_so_far + dw - weight <= 0.5:
                        return float(m[i + 1])
                    right_weight = 0.5
                w1 = weight - weight_so_far - left_weight
                w2 = weight_so_far + dw - weight - right_weight
                # standard lerp orientation: left mean weighted by the
                # distance to the RIGHT anchor (see deviation note above)
                return float((m[i] * w2 + m[i + 1] * w1) / (w1 + w2))
            weight_so_far += dw
        w1 = weight - (total - float(w[-1]) / 2.0)
        w2 = float(w[-1]) / 2.0 - w1
        return float((m[-1] * w2 + self.max * w1) / (w1 + w2))

    def get_quantiles(self, ranks) -> list[float]:
        return [self.get_quantile(r) for r in ranks]

    def get_rank(self, value: float) -> float:
        """The published t-digest rank rule (tdigest_impl.hpp get_rank):
        unit-weight-aware tail interpolation and half-weight crediting at
        the bracketing centroids."""
        if self.n == 0:
            return math.nan
        if value < self.min:
            return 0.0
        if value > self.max or SortedView.ranks_last(value):
            return 1.0
        m, w = self.means, self.weights
        if len(m) == 1:
            return 0.5
        total = float(w.sum())
        if value < m[0]:
            if m[0] - self.min > 0:
                if value == self.min:
                    return 0.5 / total
                return float(
                    (1.0 + (value - self.min) / (m[0] - self.min)
                     * (float(w[0]) / 2.0 - 1.0)) / total
                )
            return 0.0
        if value > m[-1]:
            if self.max - m[-1] > 0:
                if value == self.max:
                    return 1.0 - 0.5 / total
                return float(
                    1.0 - (1.0 + (self.max - value) / (self.max - m[-1])
                           * (float(w[-1]) / 2.0 - 1.0)) / total
                )
            return 1.0
        # lower = last centroid with mean ≤ value; upper = first with mean ≥ value
        lo = int(np.searchsorted(m, value, side="left"))
        hi = int(np.searchsorted(m, value, side="right"))
        lower = lo if (lo < len(m) and m[lo] <= value) else lo - 1
        upper = hi - 1 if (hi == len(m) or m[hi - 1] == value) else hi
        weight_below = float(w[:lower].sum()) + float(w[lower]) / 2.0
        weight_delta = (
            float(w[lower:upper].sum()) - float(w[lower]) / 2.0 + float(w[upper]) / 2.0
        )
        if m[upper] - m[lower] > 0:
            return float(
                (weight_below + weight_delta * (value - m[lower])
                 / (m[upper] - m[lower])) / total
            )
        return float((weight_below + weight_delta / 2.0) / total)

    # -- serde to Spark row ---------------------------------------------------
    def to_row(self) -> dict:
        return {
            "td_means": self.means,
            "td_weights": self.weights,
            "td_n": self.n,
            "td_min": self.min if self.n else None,
            "td_max": self.max if self.n else None,
        }

    @staticmethod
    def from_row(delta: int, row) -> "TDigest":
        td = TDigest(delta)
        td.means = np.asarray(row["td_means"], np.float64)
        td.weights = np.asarray(row["td_weights"], np.float64)
        td.n = int(row["td_n"])
        td.min = float(row["td_min"]) if row["td_min"] is not None else math.inf
        td.max = float(row["td_max"]) if row["td_max"] is not None else -math.inf
        return td


def _sketch_fields() -> list[StructField]:
    return [
        StructField("td_means", ArrayType(DoubleType(), False), False),
        StructField("td_weights", ArrayType(DoubleType(), False), False),
        StructField("td_n", LongType(), False),
        StructField("td_min", DoubleType(), True),
        StructField("td_max", DoubleType(), True),
    ]


def tdigest_agg(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    delta: int = DEFAULT_K,
) -> DataFrame:
    """groupBy(group_cols).tdigest(item_col): partial digest per input
    partition → shuffle of centroid rows only → final merge."""
    group_fields = [f for f in df.schema.fields if f.name in group_cols]
    schema = StructType(list(group_fields) + _sketch_fields())

    return sketch_agg(
        df, group_cols, [item_col], _float_items, lambda: TDigest(delta),
        lambda row: TDigest.from_row(delta, row), schema,
    )


def with_tdigest_quantiles(
    sketch_df: DataFrame, ranks: list[float], delta: int = DEFAULT_K
) -> DataFrame:
    """Append q_<rank> columns from the digest state columns."""
    return read_columns(
        sketch_df, "td_", [f.name for f in _sketch_fields()],
        lambda row: TDigest.from_row(delta, row).get_quantiles(ranks),
        [f"q{str(r).replace('.', '_')}" for r in ranks],
    )
