"""REQ sketch — RELATIVE-error streaming quantiles (accuracy concentrated
at one tail), as a Spark two-stage aggregate.

Re-derivation of the reference REQ semantics
(/root/reference/req/include/req_sketch.hpp:84-109, req_compactor_impl.hpp:
272-300 compact, 250-258 merge-sort discipline, req_common.hpp constants;
Cormode, Karnin, Liberty, Thaler, Veselý 2020 — "Relative Error Streaming
Quantiles"), NOT a port: buffers are numpy arrays and compaction ranges are
sliced vectorized, but the *rules* match the reference exactly:

  * compactor h holds items of weight 2^h; nominal capacity =
    2 · num_sections · section_size (req_compactor_impl.hpp:178-180);
  * compaction picks secs_to_compact = min(tz(~state)+1, num_sections)
    sections, protects nom_capacity/2 + (num_sections − secs)·section_size
    items at the ACCURATE end (the top for HRA), promotes every-other item
    of the rest (coin flip; odd state flips the previous coin) one level up
    (:272-296);
  * after 2^(num_sections−1) compactions, section_size shrinks by √2
    (nearest even, floor MIN_K=4) and num_sections doubles (:ensure_enough_
    sections) — this is what concentrates error at the chosen tail;
  * rank bounds: ± z · max-min of (relative_rse_factor/k)·(1−q) and
    0.084/k (req_sketch_impl.hpp:300-330).

Why next to KLL/t-digest: REQ gives a GUARANTEED multiplicative (1±ε)
rank error at the accurate tail — the strongest contract for p99.9+ cuts.

Spark mapping (same contract as the other quantile aggs, through
_twostage.sketch_agg): partial REQ sketches per input partition, shuffle
carries level buffers only, final merge = level-wise concat + compress
(the reference's merge discipline, req_sketch_impl.hpp compress loop
:624-636). Queries go through the shared quantiles.SortedView.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ._twostage import read_columns, sketch_agg
from .quantiles import SortedView, ViewQueries, _float_items

MIN_K = 4
INIT_NUM_SECTIONS = 3
MULTIPLIER = 2
DEFAULT_K = 12
FIXED_RSE_FACTOR = 0.084


def _nearest_even(x: float) -> int:
    return int(round(x / 2.0)) * 2


class _Compactor:
    __slots__ = ("lg_weight", "hra", "buf", "section_size_raw", "section_size",
                 "num_sections", "state", "coin", "rng")

    def __init__(self, lg_weight: int, k: int, hra: bool, rng: np.random.Generator):
        self.lg_weight = lg_weight
        self.hra = hra
        self.buf = np.empty(0, np.float64)  # kept sorted ascending
        self.section_size_raw = float(k)
        self.section_size = k
        self.num_sections = INIT_NUM_SECTIONS
        self.state = 0
        self.coin = False
        self.rng = rng

    def nom_capacity(self) -> int:
        return MULTIPLIER * self.num_sections * self.section_size

    def append(self, vals: np.ndarray) -> None:
        if len(vals):
            # keep sorted (numpy merge via concatenate+sort; buffers are small)
            self.buf = np.sort(np.concatenate([self.buf, vals]))

    def compact_into(self, nxt: "_Compactor") -> int:
        """One compaction step; returns number of items removed net
        (compacted_range - promoted)."""
        n = len(self.buf)
        secs = min(_trailing_zeros(~np.uint64(self.state)) + 1, self.num_sections)
        non_compact = self.nom_capacity() // 2 + (self.num_sections - secs) * self.section_size
        if ((n - non_compact) & 1) == 1:
            non_compact += 1
        if n - non_compact < 2:
            return 0
        lo, hi = (0, n - non_compact) if self.hra else (non_compact, n)
        if (self.state & 1) == 1:
            self.coin = not self.coin
        else:
            self.coin = bool(self.rng.integers(0, 2))
        rng_slice = self.buf[lo:hi]
        promoted = rng_slice[1::2] if self.coin else rng_slice[0::2]
        nxt.append(promoted)
        self.buf = np.concatenate([self.buf[:lo], self.buf[hi:]])
        self.state += 1
        self._ensure_enough_sections()
        return (hi - lo) - len(promoted)

    def _ensure_enough_sections(self) -> bool:
        ssr = self.section_size_raw / math.sqrt(2.0)
        ne = _nearest_even(ssr)
        if self.state >= (1 << (self.num_sections - 1)) and ne >= MIN_K:
            self.section_size_raw = ssr
            self.section_size = ne
            self.num_sections <<= 1
            return True
        return False


def _trailing_zeros(x: np.uint64) -> int:
    v = int(x)
    if v == 0:
        return 64
    return (v & -v).bit_length() - 1


class ReqSketch(ViewQueries):
    """Driver/test-side REQ sketch; the Spark agg carries its fields as
    columns. hra=True (default, like the reference): high ranks accurate."""

    __slots__ = ("k", "hra", "compactors", "n", "min", "max", "rng")

    def __init__(self, k: int = DEFAULT_K, hra: bool = True, seed: int = 9001):
        if k < MIN_K or k % 2 == 1:
            raise ValueError("k must be even and >= 4")
        self.k = k
        self.hra = hra
        self.rng = np.random.default_rng(seed)
        self.compactors = [_Compactor(0, k, hra, self.rng)]
        self.n = 0
        self.min = math.inf
        self.max = -math.inf

    def num_retained(self) -> int:
        return sum(len(c.buf) for c in self.compactors)

    def _max_nom_size(self) -> int:
        return sum(c.nom_capacity() for c in self.compactors)

    def is_estimation_mode(self) -> bool:
        return len(self.compactors) > 1

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
        self.compactors[0].append(v)
        self._compress()

    # -- merge ----------------------------------------------------------------
    def merge(self, other: "ReqSketch") -> None:
        """Reference req_sketch::merge (req_sketch_impl.hpp:189-210):
        mixing HRA and LRA is invalid; differing k is allowed — merged
        compactors re-compress under THIS sketch's section sizes."""
        if self.hra != other.hra:
            raise ValueError("merging HRA and LRA is not valid")
        if other.n == 0:
            return
        self.n += other.n
        self.min = min(self.min, other.min)
        self.max = max(self.max, other.max)
        while len(self.compactors) < len(other.compactors):
            self._grow()
        for i, c in enumerate(other.compactors):
            self.compactors[i].append(c.buf)
        self._compress()

    def _grow(self) -> None:
        self.compactors.append(
            _Compactor(len(self.compactors), self.k, self.hra, self.rng)
        )

    def _compress(self) -> None:
        # reference compress loop (req_sketch_impl.hpp:624-636) with lazy
        # early-exit, iterated until under the nominal bound
        while self.num_retained() >= self._max_nom_size():
            progressed = False
            for h in range(len(self.compactors)):
                c = self.compactors[h]
                if len(c.buf) >= c.nom_capacity():
                    if h + 1 >= len(self.compactors):
                        self._grow()
                    removed = c.compact_into(self.compactors[h + 1])
                    progressed = progressed or removed > 0
                    if self.num_retained() < self._max_nom_size():
                        break
            if not progressed:
                break

    # -- queries --------------------------------------------------------------
    def sorted_view(self) -> SortedView:
        """The compactors as one sorted view; an item of compactor h
        weighs 2^h."""
        return SortedView.of((c.buf, 1 << c.lg_weight) for c in self.compactors)

    def get_quantiles(self, ranks) -> list[float]:
        """REQ answers a rank of 0 or 1 with its exact min or max
        (req_sketch_impl.hpp get_quantile), the others from the view."""
        ranks = list(ranks)
        qs = self.sorted_view().quantiles(ranks)
        if self.n == 0:
            return qs
        return [self.min if r <= 0.0 else self.max if r >= 1.0 else q for r, q in zip(ranks, qs)]

    def ks_epsilon(self) -> float:
        """Additive rank-error term for the generic KS threshold. REQ's
        rank error is rank-dependent, but rank_bounds takes the tighter of
        the relative and FIXED terms, so the deviation is globally bounded
        by FIXED_RSE_FACTOR/k at 1σ (req_sketch_impl.hpp:300-330) — the
        single constant the KS statistic needs. ENGINE EXTENSION: the
        reference instantiates its KS template only over KLL and classic
        quantiles; REQ rides the same template here with its own
        envelope."""
        return FIXED_RSE_FACTOR / self.k

    # -- rank confidence bounds (req_sketch_impl.hpp:285-330) ----------------
    @staticmethod
    def _is_exact_rank(k: int, num_levels: int, rank: float, n: int,
                       hra: bool) -> bool:
        """Ranks inside the always-exact region (the accurate end holds
        the first k·INIT_NUM_SECTIONS items uncompacted)."""
        base_cap = k * INIT_NUM_SECTIONS
        if num_levels == 1 or n <= base_cap:
            return True
        thresh = base_cap / n
        return (hra and rank >= 1.0 - thresh) or (not hra and rank <= thresh)

    def get_rank_lower_bound(self, rank: float, num_std_dev: int = 2) -> float:
        """max of the relative-error and fixed-error lower bounds; exact
        ranks return themselves (get_rank_lb)."""
        if self._is_exact_rank(self.k, len(self.compactors), rank, self.n,
                               self.hra):
            return rank
        relative = (
            self.relative_rse_factor() / self.k
            * ((1.0 - rank) if self.hra else rank)
        )
        fixed = FIXED_RSE_FACTOR / self.k
        return max(rank - num_std_dev * relative, rank - num_std_dev * fixed)

    def get_rank_upper_bound(self, rank: float, num_std_dev: int = 2) -> float:
        """min of the relative-error and fixed-error upper bounds (get_rank_ub)."""
        if self._is_exact_rank(self.k, len(self.compactors), rank, self.n,
                               self.hra):
            return rank
        relative = (
            self.relative_rse_factor() / self.k
            * ((1.0 - rank) if self.hra else rank)
        )
        fixed = FIXED_RSE_FACTOR / self.k
        return min(rank + num_std_dev * relative, rank + num_std_dev * fixed)

    # -- bounds (req_sketch_impl.hpp:300-330) -----------------------------------
    @staticmethod
    def relative_rse_factor() -> float:
        return math.sqrt(0.0512 / INIT_NUM_SECTIONS)

    def rank_bounds(self, rank: float, num_std_devs: int = 2) -> tuple[float, float]:
        """Convenience pair form of the reference bound law, clamped to
        [0, 1] for coverage contracts (the raw reference values — which
        can leave [0, 1] at extreme ranks — are get_rank_lower_bound /
        get_rank_upper_bound)."""
        lb = self.get_rank_lower_bound(rank, num_std_devs)
        ub = self.get_rank_upper_bound(rank, num_std_devs)
        return max(lb, 0.0), min(ub, 1.0)

    # -- serde to Spark row -----------------------------------------------------
    def to_row(self) -> dict:
        return {
            "req_levels": [c.buf for c in self.compactors],
            "req_states": [int(c.state) for c in self.compactors],
            "req_secsizes": [int(c.section_size) for c in self.compactors],
            "req_numsecs": [int(c.num_sections) for c in self.compactors],
            "req_n": self.n,
            "req_min": self.min if self.n else None,
            "req_max": self.max if self.n else None,
        }

    @staticmethod
    def from_row(k: int, hra: bool, row, seed: int = 9001) -> "ReqSketch":
        sk = ReqSketch(k, hra, seed)
        sk.compactors = []
        for h, buf in enumerate(row["req_levels"]):
            c = _Compactor(h, k, hra, sk.rng)
            c.buf = np.asarray(buf, np.float64)
            c.state = int(row["req_states"][h])
            c.section_size = int(row["req_secsizes"][h])
            c.section_size_raw = float(c.section_size)
            c.num_sections = int(row["req_numsecs"][h])
            sk.compactors.append(c)
        if not sk.compactors:
            sk.compactors = [_Compactor(0, k, hra, sk.rng)]
        sk.n = int(row["req_n"])
        sk.min = float(row["req_min"]) if row["req_min"] is not None else math.inf
        sk.max = float(row["req_max"]) if row["req_max"] is not None else -math.inf
        return sk


def _sketch_fields() -> list[StructField]:
    return [
        StructField("req_levels", ArrayType(ArrayType(DoubleType(), False), False), False),
        StructField("req_states", ArrayType(LongType(), False), False),
        StructField("req_secsizes", ArrayType(IntegerType(), False), False),
        StructField("req_numsecs", ArrayType(IntegerType(), False), False),
        StructField("req_n", LongType(), False),
        StructField("req_min", DoubleType(), True),
        StructField("req_max", DoubleType(), True),
    ]


def req_sketch_agg(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    k: int = DEFAULT_K,
    hra: bool = True,
    seed: int = 9001,
) -> DataFrame:
    """groupBy(group_cols).req(item_col): partial REQ per partition →
    shuffle of level buffers only → final merge."""
    group_fields = [f for f in df.schema.fields if f.name in group_cols]
    schema = StructType(list(group_fields) + _sketch_fields())

    return sketch_agg(
        df, group_cols, [item_col], _float_items, lambda: ReqSketch(k, hra, seed),
        lambda row: ReqSketch.from_row(k, hra, row, seed), schema,
    )


def with_req_quantiles(
    sketch_df: DataFrame,
    ranks: list[float],
    k: int = DEFAULT_K,
    hra: bool = True,
) -> DataFrame:
    """Append q_<rank> columns from the REQ state columns."""
    return read_columns(
        sketch_df, "req_", [f.name for f in _sketch_fields()],
        lambda row: ReqSketch.from_row(k, hra, row).get_quantiles(ranks),
        [f"q{str(r).replace('.', '_')}" for r in ranks],
    )
