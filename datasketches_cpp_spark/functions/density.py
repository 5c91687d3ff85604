"""Density sketch — KDE coreset with mergeable levels, as a Spark two-stage
aggregate.

Reference semantics (/root/reference/density/include/density_sketch.hpp:57-128,
density_sketch_impl.hpp:113-162; Karnin & Liberty 2019, "Discrepancy,
Coresets, and Sketches in Machine Learning"): levels of points with weight
2^level; when retained ≥ k·num_levels, the first level holding ≥ k points
is halved by the greedy low-discrepancy rule (each point keeps/discards by
the sign of its kernel-weighted running discrepancy against earlier points)
and the survivors promote one level up; `get_estimate(q)` =
Σ_levels 2^level · Σ_points K(p, q) / n with the Gaussian kernel
K(a,b) = exp(−‖a−b‖²) (density_sketch.hpp:34-38 — note NO ½ factor and no
bandwidth; a `sigma` knob generalizes it here, sigma=√½ ⇒ exp(−‖a−b‖²)
exactly like the reference default).

Re-derivation, not a port: the discrepancy pass keeps the reference's
sequential keep/discard decisions (they are inherently ordered) but
computes each step's kernel row vectorized against the whole level, and
estimates evaluate as one (queries × points) matrix per level.

Spark mapping (same contract as quantiles/tdigest aggs, through
_twostage.sketch_agg): partial sketches per input partition (fold Arrow
batches, compact at the k·levels bound), shuffle carries only
O(k·log(n/k)·dim) floats per group,
final merge = level-wise concat + recompact (density_sketch_impl.hpp:105-111
merge discipline).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ._twostage import notna, read_columns, sketch_agg

DEFAULT_K = 256


def _kernel_rows(a: np.ndarray, b: np.ndarray, inv2sig2: float) -> np.ndarray:
    """K(a_i, b_j) = exp(−‖a_i−b_j‖²/(2σ²)) as an (len(a), len(b)) matrix —
    one gemm via the ‖a‖²+‖b‖²−2ab expansion."""
    sq = (
        (a * a).sum(axis=1)[:, None]
        + (b * b).sum(axis=1)[None, :]
        - 2.0 * (a @ b.T)
    )
    np.maximum(sq, 0.0, out=sq)
    return np.exp(-inv2sig2 * sq)


class DensitySketch:
    """Driver/test-side object; the Spark agg carries its fields as columns."""

    __slots__ = ("k", "dim", "sigma", "levels", "n", "_rng")

    def __init__(self, k: int = DEFAULT_K, dim: int = 2, sigma: float = np.sqrt(0.5), seed: int = 9001):
        self.k = k
        self.dim = dim
        self.sigma = float(sigma)
        self.levels: list[np.ndarray] = [np.empty((0, dim), np.float64)]
        self.n = 0
        # deterministic per-sketch stream (the reference uses a global RNG;
        # determinism matters for our golden/checkpoint discipline)
        self._rng = np.random.default_rng(seed)

    @property
    def _inv2sig2(self) -> float:
        return 1.0 / (2.0 * self.sigma * self.sigma)

    def num_retained(self) -> int:
        return sum(len(lv) for lv in self.levels)

    def is_estimation_mode(self) -> bool:
        return len(self.levels) > 1

    # -- update ---------------------------------------------------------------
    def update_batch(self, points: np.ndarray) -> None:
        pts = np.asarray(points, np.float64).reshape(-1, self.dim)
        if len(pts) == 0:
            return
        pts = pts + 0.0  # -0.0 -> +0.0, see quantiles.KllSketch.update_batch
        self.n += len(pts)
        self.levels[0] = np.concatenate([self.levels[0], pts])
        self._maybe_compact()

    # -- merge ----------------------------------------------------------------
    def merge(self, other: "DensitySketch") -> None:
        assert self.k == other.k and self.dim == other.dim, "incompatible density sketches"
        self.n += other.n
        for i, lv in enumerate(other.levels):
            if i >= len(self.levels):
                self.levels.append(np.empty((0, self.dim), np.float64))
            if len(lv):
                self.levels[i] = np.concatenate([self.levels[i], lv])
        self._maybe_compact()

    def _maybe_compact(self) -> None:
        while self.num_retained() >= self.k * len(self.levels):
            for h in range(len(self.levels)):
                if len(self.levels[h]) >= self.k:
                    if h + 1 >= len(self.levels):
                        self.levels.append(np.empty((0, self.dim), np.float64))
                    self._compact_level(h)
                    break
            else:
                break

    def _compact_level(self, h: int) -> None:
        """Greedy discrepancy halving (density_sketch_impl.hpp:143-162):
        shuffle; bit_i = sign of −Σ_{j<i} (±1)_j K(x_i, x_j); keep bit=1
        points one level up. The i-loop is sequential by construction; each
        step's kernel row is vectorized."""
        level = self.levels[h]
        m = len(level)
        perm = self._rng.permutation(m)
        pts = level[perm]
        kmat = _kernel_rows(pts, pts, self._inv2sig2)
        signs = np.empty(m, np.float64)
        bits = np.empty(m, bool)
        bits[0] = bool(self._rng.integers(0, 2))
        signs[0] = 1.0 if bits[0] else -1.0
        for i in range(1, m):
            delta = float(kmat[i, :i] @ signs[:i])
            bits[i] = delta < 0
            signs[i] = 1.0 if bits[i] else -1.0
        self.levels[h + 1] = np.concatenate([self.levels[h + 1], pts[bits]])
        self.levels[h] = np.empty((0, self.dim), np.float64)

    # -- query ----------------------------------------------------------------
    def get_estimate(self, queries: np.ndarray) -> np.ndarray:
        """Density at each query point: Σ_levels 2^h Σ_p K(p, q) / n."""
        q = np.asarray(queries, np.float64).reshape(-1, self.dim)
        if self.n == 0:
            raise ValueError("operation is undefined for an empty sketch")
        out = np.zeros(len(q), np.float64)
        for h, lv in enumerate(self.levels):
            if len(lv):
                out += (1 << h) * _kernel_rows(q, lv, self._inv2sig2).sum(axis=1)
        return out / self.n

    # -- serde to Spark row ---------------------------------------------------
    def to_row(self) -> dict:
        return {
            "ds_levels": [lv.ravel() for lv in self.levels],
            "ds_n": self.n,
        }

    @staticmethod
    def from_row(k: int, dim: int, sigma: float, row, seed: int = 9001) -> "DensitySketch":
        ds = DensitySketch(k, dim, sigma, seed)
        ds.levels = [
            np.asarray(lv, np.float64).reshape(-1, dim) for lv in row["ds_levels"]
        ]
        if not ds.levels:
            ds.levels = [np.empty((0, dim), np.float64)]
        ds.n = int(row["ds_n"])
        return ds


def _sketch_fields() -> list[StructField]:
    return [
        StructField("ds_levels", ArrayType(ArrayType(DoubleType(), False), False), False),
        StructField("ds_n", LongType(), False),
    ]


def density_sketch_agg(
    df: DataFrame,
    group_cols: list[str],
    vec_col: str,
    dim: int,
    k: int = DEFAULT_K,
    sigma: float = float(np.sqrt(0.5)),
    seed: int = 9001,
) -> DataFrame:
    """groupBy(group_cols).density_sketch(vec_col): partial coresets per
    input partition → shuffle of level rows only → final merge."""
    group_fields = [f for f in df.schema.fields if f.name in group_cols]
    schema = StructType(list(group_fields) + _sketch_fields())

    def rows(vecs: np.ndarray) -> tuple[np.ndarray]:
        flat = np.array([np.asarray(v, np.float64) for v in vecs], np.float64)
        return (flat.reshape(len(vecs), dim),)

    # null vectors are no-ops (the sketch-family convention — freq/theta/
    # countmin drop null items); without the filter a single NULL crashes
    # the whole batch with an inhomogeneous-shape ValueError
    return sketch_agg(
        df.where(notna(df, vec_col)), group_cols, [vec_col], rows,
        lambda: DensitySketch(k, dim, sigma, seed),
        lambda row: DensitySketch.from_row(k, dim, sigma, row, seed), schema,
    )


def with_density_estimates(
    sketch_df: DataFrame,
    query_points: np.ndarray,
    dim: int,
    k: int = DEFAULT_K,
    sigma: float = float(np.sqrt(0.5)),
) -> DataFrame:
    """Append density_<i> columns, one per query point."""
    q = np.asarray(query_points, np.float64).reshape(-1, dim)
    return read_columns(
        sketch_df, "ds_", [f.name for f in _sketch_fields()],
        lambda row: DensitySketch.from_row(k, dim, sigma, row).get_estimate(q).tolist(),
        [f"density_{i}" for i in range(len(q))],
    )
