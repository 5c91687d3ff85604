"""KLL quantile sketch — numpy kernel + two-stage Spark aggregate.

Re-expresses the reference's KLL semantics (kll_sketch.hpp:171-393;
level-buffer compaction kll_helper_impl.hpp:96-199) in whole-batch numpy:

  state   = levels[i] (items of weight 2^i), level 0 is the update buffer
  update  = append to level 0; when total retained ≥ capacity, sort the
            lowest over-full level and keep a random odd/even half one
            level up ("randomly_halve", kll_helper.hpp:43-94)
  merge   = concatenate levels index-wise, re-compact (associative within
            the usual KLL error envelope)
  query   = sorted view with cumulative weights (quantiles_sorted_view.hpp:
            38-152): get_quantile / get_rank / get_PMF / get_CDF

Level capacities follow the reference's geometric decay: cap(depth d from
the top) = max(ceil(k * (2/3)^d), 8) (kll_helper: capacity_of_height with
MIN_WIDE = 8). Normalized rank error uses the published KLL constants
(get_normalized_rank_error, kll_helper_impl.hpp: 2.296/k^0.9 one-sided,
2.446/k^0.9 PMF).

The random halving bit is drawn from an rng seeded by (seed, level,
len(buffer), compaction_counter) — deterministic for a fixed partitioning
(re-runs reproduce), while the counter keeps repeated compactions at the
same (level, fill) independent, which is what the unbiasedness argument
in the error analysis needs (the reference draws a fresh bit each time). Exactness below capacity mirrors the reference's
exact mode: until the first compaction the sketch IS the data.

Spark mapping: ``_twostage.sketch_agg`` — partial sketches per input
partition (map-side combine — the shuffle carries O(groups × partitions ×
k) floats, never raw rows), then the final merge. Same explicit two-stage
shape as functions/theta.py. ``SortedView`` below is the query surface
KLL shares with KLL over strings, REQ and classic quantiles.
"""

from __future__ import annotations

import math
from datetime import datetime
from typing import Iterable, NamedTuple

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

DEFAULT_K = 200
_C = 2.0 / 3.0
_MIN_CAP = 8


def _level_cap(k: int, depth_from_top: int) -> int:
    return max(int(math.ceil(k * (_C ** depth_from_top))), _MIN_CAP)


class SortedView(NamedTuple):
    """A sketch's retained items in ascending order with their cumulative
    weights: the one query surface of KLL, KLL over strings, REQ and
    classic quantiles, as the reference's quantiles_sorted_view.hpp:38-152
    is theirs. t-digest's centroids form one too, for ``ks_delta``; its
    own getters interpolate and share only ``check_rank``.

    An empty view answers NaN, or None where its items are not floats
    (KLL over strings)."""

    items: np.ndarray
    cum_weights: np.ndarray

    @classmethod
    def of(cls, buffers: Iterable[tuple[np.ndarray, int]]) -> "SortedView":
        """The view of one or more (items, weight of each item) buffers,
        in the given order: the stable sort keeps that order among equal
        items."""
        buffers = list(buffers)
        items = np.concatenate([b for b, _ in buffers])
        weights = np.concatenate([np.full(len(b), w, np.int64) for b, w in buffers])
        order = np.argsort(items, kind="stable")
        return cls(items[order], np.cumsum(weights[order]))

    @staticmethod
    def check_rank(rank: float) -> None:
        """The reference's rank check: a rank is a number in [0, 1]."""
        if not 0.0 <= rank <= 1.0:
            raise ValueError(f"rank must be in [0, 1], got {rank}")

    @staticmethod
    def ranks_last(item) -> bool:
        """The item rule: a NaN item sorts above every retained item, where
        ``searchsorted`` places it, so every family ranks it 1.0."""
        return item != item

    def quantiles(self, ranks: Iterable[float]) -> list:
        """The item whose cumulative weight first reaches rank × total,
        for each rank."""
        ranks = list(ranks)
        for r in ranks:
            self.check_rank(r)
        if not len(self.items):
            return [math.nan if self.items.dtype.kind == "f" else None] * len(ranks)
        cw = self.cum_weights
        idx = np.searchsorted(cw, np.asarray(ranks, np.float64) * cw[-1], side="left")
        return self.items[np.minimum(idx, len(self.items) - 1)].tolist()

    def ranks(self, items, inclusive: bool = True) -> np.ndarray:
        """The weight share of the retained items below each of ``items``
        (at or below it if ``inclusive``)."""
        if not len(self.items):
            return np.full(len(items), math.nan)
        idx = np.searchsorted(self.items, items, side="right" if inclusive else "left")
        cw = self.cum_weights
        return np.where(idx > 0, cw[np.maximum(idx - 1, 0)] / cw[-1], 0.0)

    def rank(self, item, inclusive: bool = True) -> float:
        return float(self.ranks([item], inclusive)[0])

    def cdf(self, splits) -> np.ndarray:
        """The inclusive rank at each split, and 1.0 for the tail."""
        return np.append(self.ranks(np.asarray(splits, self.items.dtype)), 1.0)

    def pmf(self, splits) -> np.ndarray:
        return np.diff(self.cdf(splits), prepend=0.0)


class ViewQueries:
    """The getters of a sketch with a ``sorted_view()``: each builds the
    view once and answers from it."""

    __slots__ = ()

    def get_quantile(self, rank: float):
        return self.get_quantiles([rank])[0]

    def get_quantiles(self, ranks) -> list:
        return self.sorted_view().quantiles(ranks)

    def get_rank(self, item, inclusive: bool = True) -> float:
        return self.sorted_view().rank(item, inclusive)

    def get_cdf(self, splits) -> np.ndarray:
        return self.sorted_view().cdf(splits)

    def get_pmf(self, splits) -> np.ndarray:
        return self.sorted_view().pmf(splits)


class KllSketch(ViewQueries):
    """Mutable KLL state over float64 items (pure numpy, no Spark)."""

    __slots__ = ("k", "seed", "levels", "n", "min_item", "max_item", "min_k", "ncomp")

    def __init__(self, k: int = DEFAULT_K, seed: int = 9001):
        self.k = k
        self.seed = seed
        self.levels: list[np.ndarray] = [np.empty(0, np.float64)]
        self.n = 0
        self.min_item = math.inf
        self.max_item = -math.inf
        # smallest k that ever contributed while in estimation mode — the
        # honest error parameter after mixed-k merges (kll_sketch.hpp min_k_)
        self.min_k = k
        # compaction counter: evolves the halving coin so repeated
        # compactions of the same level at the same fill keep DIFFERENT
        # parities (the reference draws a fresh bit per compaction;
        # a (seed, level, len)-only coin is correlated and biases ranks
        # directionally in steady state). Not wire state — resets on
        # deserialize, like the reference's RNG.
        self.ncomp = 0

    # -- update ---------------------------------------------------------------
    def update_batch(self, items: np.ndarray) -> None:
        items = np.asarray(items, np.float64)
        items = items[~np.isnan(items)]
        if len(items) == 0:
            return
        # canonicalize -0.0 -> +0.0 on entry (x + 0.0 is the identity for
        # every other float): np.sort is not a total order over ±0.0, so a
        # retained -0.0 would land nondeterministically among equal zeros and
        # break serialize∘deserialize byte isomorphism. Mirrors the
        # reference's update-time canonicalization for theta
        # (theta_update_sketch_base.hpp:235-249).
        items = items + 0.0
        self.n += len(items)
        self.min_item = min(self.min_item, float(items.min()))
        self.max_item = max(self.max_item, float(items.max()))
        self.levels[0] = np.concatenate([self.levels[0], items])
        self._compress()

    def _capacity(self) -> int:
        h = len(self.levels)
        return sum(_level_cap(self.k, h - 1 - lvl) for lvl in range(h))

    def _compress(self) -> None:
        while sum(len(b) for b in self.levels) >= self._capacity():
            h = len(self.levels)
            lvl = next(
                (
                    i
                    for i in range(h)
                    if len(self.levels[i]) >= _level_cap(self.k, h - 1 - i)
                ),
                None,
            )
            if lvl is None:
                break
            buf = np.sort(self.levels[lvl])
            # deterministic-for-fixed-input unbiased halving; the ncomp
            # term decorrelates repeated compactions at the same
            # (level, fill) — see __init__
            rng = np.random.default_rng(
                (self.seed, lvl, len(buf), self.ncomp)
            )
            self.ncomp += 1
            start = int(rng.integers(0, 2))
            promoted = buf[start::2]
            self.levels[lvl] = np.empty(0, buf.dtype)
            if lvl + 1 == len(self.levels):
                self.levels.append(np.empty(0, buf.dtype))
            self.levels[lvl + 1] = np.concatenate([self.levels[lvl + 1], promoted])

    # -- merge ----------------------------------------------------------------
    def merge(self, other: "KllSketch") -> None:
        """Index-wise level concat + re-compress.  Differing k is allowed
        (reference kll_sketch::merge, kll_sketch_impl.hpp:210-232): levels
        re-compact under THIS sketch's capacities, and ``min_k`` records
        the smallest estimation-mode contributor so rank-error reporting
        stays honest."""
        if other.n == 0:
            return
        if other.is_estimation_mode():
            self.min_k = min(self.min_k, other.min_k)
        self.n += other.n
        self.min_item = min(self.min_item, other.min_item)
        self.max_item = max(self.max_item, other.max_item)
        self._add_levels(other)

    def _add_levels(self, other: "KllSketch") -> None:
        """Concatenate ``other``'s levels index-wise onto these, then
        re-compact."""
        for i, buf in enumerate(other.levels):
            if i >= len(self.levels):
                self.levels.append(np.empty(0, buf.dtype))
            if len(buf):
                self.levels[i] = np.concatenate([self.levels[i], buf])
        self._compress()

    # -- queries ----------------------------------------------------------------
    def sorted_view(self) -> SortedView:
        """The levels as one sorted view; an item of level i weighs 2^i."""
        return SortedView.of((b, 1 << i) for i, b in enumerate(self.levels))

    def is_estimation_mode(self) -> bool:
        return len(self.levels) > 1

    def num_retained(self) -> int:
        return int(sum(len(b) for b in self.levels))

    def ks_epsilon(self) -> float:
        """This sketch's additive rank-error term for the KS threshold
        (kolmogorov_smirnov_impl.hpp threshold(): eps_i =
        get_normalized_rank_error(false))."""
        return self.get_normalized_rank_error(False)

    @staticmethod
    def normalized_rank_error(k: int, pmf: bool = False) -> float:
        """Published KLL error constants (kll_helper_impl.hpp)."""
        return (2.446 if pmf else 2.296) / (k ** 0.9)

    def get_normalized_rank_error(self, pmf: bool = False) -> float:
        """This sketch's rank error — parameterized by ``min_k`` so a
        mixed-k merge reports the coarsest contributor's envelope
        (kll_sketch_impl.hpp get_normalized_rank_error(min_k_, pmf))."""
        return self.normalized_rank_error(self.min_k, pmf)

    # -- serde to Spark row ------------------------------------------------------
    def to_row(self) -> dict:
        return {
            "kll_n": self.n,
            "kll_min": self.min_item if self.n else math.nan,
            "kll_max": self.max_item if self.n else math.nan,
            "kll_levels": [lvl.tolist() for lvl in self.levels],
        }

    @classmethod
    def from_row(cls, k: int, seed: int, row) -> "KllSketch":
        sk = cls(k, seed)
        sk.n = int(row["kll_n"])
        sk.min_item = float(row["kll_min"])
        sk.max_item = float(row["kll_max"])
        sk.levels = [np.asarray(b, np.float64) for b in row["kll_levels"]]
        if not sk.levels:
            sk.levels = [np.empty(0, np.float64)]
        return sk


# ---------------------------------------------------------------------------
# KS test (kolmogorov_smirnov.hpp:28-66)
# ---------------------------------------------------------------------------


def ks_delta(a, b) -> float:
    """Max |CDF_a - CDF_b| over the union of retained items.

    Generic over any sketch exposing ``sorted_view()`` — KLL, classic
    quantiles, REQ, and t-digest: the shared ``SortedView`` is the
    protocol, and its CDF is the one read here. The reference's template
    (kolmogorov_smirnov_impl.hpp delta(), over the sketch's sorted view)
    is instantiated by its tests only for KLL and classic; the engine
    keeps the same protocol and extends it to the other two quantile
    families (each with its own documented ks_epsilon envelope)."""
    va, vb = a.sorted_view(), b.sorted_view()
    if len(va.items) == 0 or len(vb.items) == 0:
        return 0.0
    pts = np.union1d(va.items, vb.items)
    return float(np.abs(va.ranks(pts) - vb.ranks(pts)).max())


def ks_threshold(a, b, p_value: float) -> float:
    """sqrt(-ln(p/2)/2) * sqrt((r1+r2)/(r1*r2)) + rank errors — the
    reference's exact recipe (kolmogorov_smirnov_impl.hpp threshold():
    r_i = get_num_retained(), eps_i = the sketch's normalized rank
    error). Each sketch contributes its OWN family's envelope via
    ``ks_epsilon()``, so any two of KLL / classic / REQ / t-digest can be
    tested against each other."""
    ra, rb = a.num_retained(), b.num_retained()
    if ra == 0 or rb == 0:
        # an empty sketch carries no distributional evidence: the
        # threshold is +inf so ks_test never rejects (ks_delta's empty
        # guard returns 0.0) — instead of ZeroDivisionError on ra*rb
        return math.inf
    stat = math.sqrt(-0.5 * math.log(p_value / 2.0)) * math.sqrt((ra + rb) / (ra * rb))
    return stat + a.ks_epsilon() + b.ks_epsilon()


def ks_test(a, b, p_value: float) -> bool:
    """True ⇔ the two distributions differ at the given p-value. Accepts
    any mix of KLL / classic / REQ / t-digest sketches (the reference's
    generic KS template shape; REQ/t-digest are engine extensions with
    their own ks_epsilon envelopes)."""
    return ks_delta(a, b) > ks_threshold(a, b, p_value)


# ---------------------------------------------------------------------------
# Spark two-stage aggregate
# ---------------------------------------------------------------------------


def _float_items(v: np.ndarray) -> tuple[np.ndarray]:
    """A batch's items as float64, null as NaN (which ``update_batch``
    drops), a timestamp as its local time in nanoseconds since the epoch:
    the ``prepare`` of every float quantile family."""
    if v.dtype == object and isinstance(next((x for x in v if x is not None), None), datetime):
        ns = v.astype("datetime64[ns]")
        v = np.where(np.isnat(ns), np.nan, ns.view(np.int64))
    return (v.astype(np.float64),)


def _sketch_fields() -> list[StructField]:
    return [
        StructField("kll_n", LongType(), False),
        StructField("kll_min", DoubleType(), True),
        StructField("kll_max", DoubleType(), True),
        StructField("kll_levels", ArrayType(ArrayType(DoubleType(), False), False), False),
    ]


def kll_sketch_agg(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    k: int = DEFAULT_K,
    seed: int = 9001,
) -> DataFrame:
    """groupBy(group_cols).kll(item_col): partial per partition → shuffle of
    sketch rows only → final merge. Output one row per group with the
    serialized level structure."""
    group_fields = [f for f in df.schema.fields if f.name in group_cols]
    schema = StructType(list(group_fields) + _sketch_fields())

    return sketch_agg(
        df, group_cols, [item_col], _float_items, lambda: KllSketch(k, seed),
        lambda row: KllSketch.from_row(k, seed, row), schema,
    )


def with_quantiles(
    sketch_df: DataFrame,
    ranks: list[float],
    k: int = DEFAULT_K,
    seed: int = 9001,
    out_col: str = "quantiles",
) -> DataFrame:
    """Append array<double> of quantile estimates at the given ranks."""
    return read_sketches(
        sketch_df, [f.name for f in _sketch_fields()],
        lambda row: KllSketch.from_row(k, seed, row).get_quantiles(ranks),
        StructField(out_col, ArrayType(DoubleType()), True),
    )

