"""Classic quantiles sketch (the original DataSketches quantiles family,
k=128 default) — re-derived from the reference's semantics, not copied:

* base buffer of 2k raw items + levels of exactly k items each, level ℓ
  carrying weight 2^(ℓ+1); the set of valid levels is the binary
  representation of n/(2k) (quantiles_sketch.hpp:514-518 state,
  quantiles_sketch_impl.hpp process_full_base_buffer /
  in_place_propagate_carry / zip_buffer).
* propagation = binary-addition carry: a full sorted 2k buffer is "zipped"
  (every 2nd item from a random offset — the unbiased half-sampling) into
  the first empty level; an occupied level merges into the carry and
  propagates upward.
* merge injects the other sketch's base items as raw updates and each of
  its valid k-levels at the matching level with the same carry rule —
  associative, the property the two-stage Spark aggregate relies on.
* normalized rank error ε = 1.576/k^0.9726 (non-PMF) / 1.854/k^0.9657
  (PMF) — quantiles_sketch_impl.hpp:725-729.

KLL (functions/quantiles.py) supersedes this family accuracy-per-byte
(the reference says so too); it exists for API/semantics parity with
deployments that standardized on classic k=128 sketches.
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

from ._twostage import read_sketches, sketch_agg
from .quantiles import SortedView, ViewQueries, _float_items

DEFAULT_K = 128


class ClassicQuantilesSketch(ViewQueries):
    """Single-node kernel; Spark wiring in classic_quantiles_agg below."""

    def __init__(self, k: int = DEFAULT_K, seed: int = 9001):
        if k < 2 or (k & (k - 1)) != 0:
            raise ValueError("k must be a power of two >= 2 (reference MIN_K=2)")
        self.k = k
        self.rng = np.random.default_rng(seed)
        self.n = 0
        self.base: np.ndarray = np.empty(0, np.float64)
        self.levels: list[np.ndarray | None] = []
        self.min_item = math.inf
        self.max_item = -math.inf

    # -- update ------------------------------------------------------------

    def update_batch(self, values: np.ndarray) -> None:
        values = np.asarray(values, np.float64)
        values = values[~np.isnan(values)]
        if len(values) == 0:
            return
        values = values + 0.0  # -0.0 -> +0.0, see quantiles.KllSketch.update_batch
        self.min_item = min(self.min_item, float(values.min()))
        self.max_item = max(self.max_item, float(values.max()))
        self.n += len(values)
        cap = 2 * self.k
        pos = 0
        while pos < len(values):
            take = min(cap - len(self.base), len(values) - pos)
            self.base = np.concatenate([self.base, values[pos : pos + take]])
            pos += take
            if len(self.base) == cap:
                self._carry(np.sort(self.base), 0)
                self.base = np.empty(0, np.float64)

    def _zip(self, buf2k: np.ndarray) -> np.ndarray:
        """Unbiased half-sample of a sorted 2k buffer: every 2nd item from
        a random offset (reference zip_buffer)."""
        off = int(self.rng.integers(0, 2))
        return buf2k[off::2][: self.k]

    def _carry(self, buf2k: np.ndarray, lvl: int) -> None:
        """Propagate a sorted 2k carry buffer upward from ``lvl``."""
        while True:
            while len(self.levels) <= lvl:
                self.levels.append(None)
            zipped = self._zip(buf2k)
            if self.levels[lvl] is None:
                self.levels[lvl] = zipped
                return
            buf2k = np.sort(np.concatenate([zipped, self.levels[lvl]]))
            self.levels[lvl] = None
            lvl += 1

    def _inject(self, arr_k: np.ndarray, lvl: int) -> None:
        """Merge-in one k-buffer at ``lvl`` (sketch-merge carry rule)."""
        while len(self.levels) <= lvl:
            self.levels.append(None)
        if self.levels[lvl] is None:
            self.levels[lvl] = np.sort(np.asarray(arr_k, np.float64))
            return
        buf2k = np.sort(np.concatenate([self.levels[lvl], arr_k]))
        self.levels[lvl] = None
        self._carry(buf2k, lvl + 1)

    # -- merge -------------------------------------------------------------

    def is_estimation_mode(self) -> bool:
        return any(arr is not None for arr in self.levels)

    def _downsample_to(self, k_target: int) -> None:
        """Convert this sketch in place to a smaller power-of-two k — the
        reference's downsampling_merge direction
        (quantiles_sketch_impl.hpp:236-260): every valid k-buffer at
        level ℓ is subsampled every (k/k_target)-th item from a uniform
        random offset (unbiased: each item survives with probability
        k_target/k), landing at level ℓ + lg2(ratio) with its total
        weight preserved; base-buffer items re-stream as raw updates."""
        if k_target == self.k:
            return
        ratio = self.k // k_target
        if k_target < 2 or ratio * k_target != self.k or ratio & (ratio - 1):
            raise ValueError(f"cannot downsample k={self.k} to {k_target}")
        lgr = ratio.bit_length() - 1
        old_levels, old_base, old_n = self.levels, self.base, self.n
        self.k = k_target
        self.levels = []
        self.base = np.empty(0, np.float64)
        self.n = old_n
        for lvl, arr in enumerate(old_levels):
            if arr is not None:
                off = int(self.rng.integers(0, ratio))
                self._inject(arr[off::ratio][:k_target], lvl + lgr)
        if len(old_base):
            self.n -= len(old_base)  # update_batch re-counts them
            self.update_batch(old_base)

    def merge(self, other: "ClassicQuantilesSketch") -> None:
        """Reference merge semantics (quantiles_sketch_impl.hpp:236-260):
        an exact-mode ``other`` streams in as raw items regardless of k;
        mixed-k estimation merges downsample to min(k) — the merged
        sketch ends at the smaller k, like the reference's."""
        if other.n == 0:
            return
        if other.k != self.k and not other.is_estimation_mode():
            self.update_batch(other.base)
            return
        if other.k < self.k:
            self._downsample_to(other.k)
        self.min_item = min(self.min_item, other.min_item)
        self.max_item = max(self.max_item, other.max_item)
        n_before = self.n
        self.update_batch(other.base)
        # update_batch counted base items; levels are added below
        ratio = other.k // self.k
        lgr = ratio.bit_length() - 1
        for lvl, arr in enumerate(other.levels):
            if arr is not None:
                if ratio > 1:  # other is the bigger sketch: subsample
                    off = int(self.rng.integers(0, ratio))
                    arr = arr[off::ratio][: self.k]
                self._inject(arr, lvl + lgr)
                self.n += other.k << (lvl + 1)
        assert self.n == n_before + other.n, (self.n, n_before, other.n)

    # -- queries -----------------------------------------------------------

    def sorted_view(self) -> SortedView:
        """The base buffer and the valid levels as one sorted view; a base
        item weighs 1, an item of level l weighs 2^(l+1)."""
        return SortedView.of(
            [(self.base, 1)]
            + [(a, 1 << (lvl + 1)) for lvl, a in enumerate(self.levels) if a is not None]
        )

    def num_retained(self) -> int:
        return int(
            len(self.base) + sum(len(a) for a in self.levels if a is not None)
        )

    def ks_epsilon(self) -> float:
        """Additive rank-error term for the KS threshold (reference
        kolmogorov_smirnov_impl.hpp: get_normalized_rank_error(false))."""
        return self.normalized_rank_error(self.k, pmf=False)

    @staticmethod
    def normalized_rank_error(k: int, pmf: bool = False) -> float:
        """quantiles_sketch_impl.hpp:725-729 published constants."""
        return 1.854 / (k ** 0.9657) if pmf else 1.576 / (k ** 0.9726)

    # -- serde to Spark row ------------------------------------------------

    def to_row(self) -> dict:
        return {
            "cq_n": self.n,
            "cq_min": self.min_item if self.n else math.nan,
            "cq_max": self.max_item if self.n else math.nan,
            "cq_base": self.base.tolist(),
            # empty array encodes an invalid (absent) level
            "cq_levels": [
                (arr.tolist() if arr is not None else []) for arr in self.levels
            ],
        }

    @classmethod
    def from_row(cls, k: int, seed: int, row) -> "ClassicQuantilesSketch":
        sk = cls(k, seed)
        sk.n = int(row["cq_n"])
        sk.min_item = float(row["cq_min"])
        sk.max_item = float(row["cq_max"])
        sk.base = np.asarray(row["cq_base"], np.float64)
        sk.levels = [
            (np.asarray(a, np.float64) if len(a) else None) for a in row["cq_levels"]
        ]
        return sk


# ---------------------------------------------------------------------------
# Spark two-stage aggregate (same discipline as kll_sketch_agg)
# ---------------------------------------------------------------------------


def _sketch_fields() -> list[StructField]:
    return [
        StructField("cq_n", LongType(), False),
        StructField("cq_min", DoubleType(), True),
        StructField("cq_max", DoubleType(), True),
        StructField("cq_base", ArrayType(DoubleType(), False), False),
        StructField("cq_levels", ArrayType(ArrayType(DoubleType(), False), False), False),
    ]


def classic_quantiles_agg(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    k: int = DEFAULT_K,
    seed: int = 9001,
) -> DataFrame:
    """groupBy(group_cols).classic_quantiles(item_col): partial sketch per
    input partition → shuffle of sketch rows only → final merge."""
    group_fields = [f for f in df.schema.fields if f.name in group_cols]
    schema = StructType(list(group_fields) + _sketch_fields())

    return sketch_agg(
        df, group_cols, [item_col], _float_items, lambda: ClassicQuantilesSketch(k, seed),
        lambda row: ClassicQuantilesSketch.from_row(k, seed, row), schema,
    )


def with_classic_quantiles(
    sketch_df: DataFrame,
    ranks: list[float],
    k: int = DEFAULT_K,
    seed: int = 9001,
    out_col: str = "quantiles",
) -> DataFrame:
    """Drop the state columns but ``cq_n`` and append array<double> of
    quantile estimates at ``ranks``; an empty sketch's estimates read NULL."""
    state = [f.name for f in _sketch_fields()]
    out = read_sketches(
        sketch_df, state,
        lambda row: ClassicQuantilesSketch.from_row(k, seed, row).get_quantiles(ranks),
        StructField(out_col, ArrayType(DoubleType()), False),
    )
    return out.select(*(c for c in sketch_df.columns if c not in state), "cq_n", out_col)
