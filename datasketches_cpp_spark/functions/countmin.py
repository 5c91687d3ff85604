"""Count-min sketch — two-stage Spark aggregate over a d×w counter matrix.

Reference semantics (count/include/count_min.hpp, count_min_impl.hpp):
  - d = num_hashes rows × w = num_buckets columns of int64 counters;
  - row i hashes the item with seed derived from (base seed, i) —
    count_min_impl.hpp:155-191 seeds each row hash independently;
  - update adds weight to one bucket per row; estimate = min over rows
    (count_min_impl.hpp:229-238);
  - guarantee: f_true ≤ f_est ≤ f_true + ε·total_weight with
    ε = e/num_buckets at confidence 1 - δ, δ = exp(-num_hashes)
    (count_min.hpp:71-104);
  - suggest_num_buckets(rel_err) = ceil(e/ε), suggest_num_hashes(conf) =
    ceil(ln(1/(1-conf))) (count_min.hpp:93-104);
  - merge = element-wise add, defined only for identical (d, w, seed)
    (count_min_impl.hpp:242-247) — enforced here via the config columns.

Spark mapping: the matrix is one flattened array<long> per group; partial
matrices per input partition via ``_twostage.fold_partials`` (vectorized np.add.at),
final merge is an element-wise sum. The estimate path is a join of a probe
table against the (small, usually broadcast) sketch row.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField

from ..hashing import DEFAULT_SEED, hash63_int64, hash63_str_many

from ..hashing import INT_DTYPES as _INT_TYPES  # one shared definition
from ._twostage import fold_partials, map_rows, merge_groups, notna


def suggest_num_buckets(relative_error: float) -> int:
    """ceil(e / ε) — count_min.hpp:93-97."""
    return int(math.ceil(math.e / relative_error))


def suggest_num_hashes(confidence: float) -> int:
    """ceil(ln(1/(1-confidence))) — count_min.hpp:99-104."""
    return int(math.ceil(math.log(1.0 / (1.0 - confidence))))


def relative_error(num_buckets: int) -> float:
    return math.e / num_buckets


def _row_hashes(
    items: pd.Series, dtype: str, num_hashes: int, num_buckets: int, seed: int
) -> np.ndarray:
    """(n, d) bucket indices; row i uses seed+i like the reference's
    per-row seeded hash family."""
    out = np.empty((len(items), num_hashes), dtype=np.int64)
    for i in range(num_hashes):
        row_seed = (seed + i * 0x9E3779B9) & 0xFFFFFFFFFFFFFFFF
        if dtype in _INT_TYPES:
            h = hash63_int64(items.to_numpy(dtype=np.int64), row_seed)
        else:
            h = hash63_str_many([str(v) for v in items], row_seed)
        out[:, i] = (h % np.uint64(num_buckets)).astype(np.int64)
    return out


def count_min_agg(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    num_hashes: int = 7,
    num_buckets: int = 2719,
    seed: int = DEFAULT_SEED,
    weight_col: str | None = None,
) -> DataFrame:
    """groupBy(group_cols).count_min(item_col[, weight]) → one row per
    group: (group..., cm_matrix array<long> of d·w, cm_total long,
    num_hashes int, num_buckets int, seed long)."""
    item_dtype = dict(df.dtypes)[item_col]
    group_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in group_cols
    )
    prefix = f"{group_fields}, " if group_fields else ""
    schema = (
        f"{prefix}cm_matrix array<long>, cm_total long, "
        "num_hashes int, num_buckets int, seed long"
    )
    cols = [item_col] + ([weight_col] if weight_col else [])

    def cells_and_weights(items: pd.Series, *weights: pd.Series) -> tuple[np.ndarray, ...]:
        bucket = _row_hashes(items, item_dtype, num_hashes, num_buckets, seed)  # (n, d)
        w = (
            weights[0].to_numpy().astype(np.int64)
            if weights
            else np.ones(len(items), dtype=np.int64)
        )
        return bucket + np.arange(num_hashes) * num_buckets, w  # flat (n, d), (n,)

    def update(st: list, flat: np.ndarray, w: np.ndarray) -> None:
        np.add.at(st[0], flat.ravel(), np.repeat(w, num_hashes))
        st[1] += int(w.sum())

    def emit(st: list) -> list[dict]:
        return [dict(
            cm_matrix=st[0], cm_total=st[1],
            num_hashes=num_hashes, num_buckets=num_buckets, seed=seed,
        )]

    # state: [flattened d·w matrix, total weight]
    partials = fold_partials(
        df.where(notna(df, item_col)), group_cols, cols, cells_and_weights,
        lambda: [np.zeros(num_hashes * num_buckets, dtype=np.int64), 0], update, emit, schema,
    )

    def final(rows: list[dict]) -> list[dict]:
        # shape/seed must match to merge (count_min_impl.hpp:242-247)
        assert len({(r["num_hashes"], r["num_buckets"]) for r in rows}) == 1
        mat = np.zeros(num_hashes * num_buckets, dtype=np.int64)
        for r in rows:
            mat += np.asarray(r["cm_matrix"], dtype=np.int64)
        return emit([mat, sum(r["cm_total"] for r in rows)])

    return merge_groups(partials, group_cols, final, schema)


def estimate_frequencies(
    sketch_df: DataFrame,
    probe_df: DataFrame,
    item_col: str,
    join_cols: list[str] | None = None,
) -> DataFrame:
    """Probe table → (probe..., estimate long, upper_bound long,
    lower_bound long). With no join_cols the (single-row) sketch is
    cross-broadcast to every probe — the scale shape for 'one sketch, many
    lookups'. estimate = min over rows; bounds per count_min.hpp:71-88
    (upper = est, lower = est - ε·total). A null (or NaN) probe item
    answers 0: the aggregate never counts one."""
    item_dtype = dict(probe_df.dtypes)[item_col]
    join_cols = join_cols or []
    sketch_cols = ["cm_matrix", "cm_total", "num_hashes", "num_buckets", "seed"]
    sk = sketch_df.select(*(join_cols + sketch_cols))
    joined = (
        probe_df.join(F.broadcast(sk), join_cols).select(
            *(F.col(f"`{c}`") for c in probe_df.columns), *sketch_cols
        )
        if join_cols
        else probe_df.crossJoin(F.broadcast(sk))
    )

    def probe(items, matrices, totals, num_hashes, num_buckets, seeds):
        d = int(num_hashes.iloc[0])
        w = int(num_buckets.iloc[0])
        seed = int(seeds.iloc[0])
        ests = np.zeros(len(items), dtype=np.int64)
        eps_tot = np.zeros(len(items), dtype=np.int64)
        valid = items.notna().to_numpy()
        # group probes by identical sketch CONTENT (bytes), not id():
        # after Arrow conversion every row's buffer is a distinct
        # object, so id() made every group a single row and the
        # vectorized hash/gather degenerated to a per-row loop
        for idx in matrices.groupby(matrices.map(bytes), sort=False).indices.values():
            idx = idx[valid[idx]]
            if not len(idx):
                continue
            mat = np.asarray(matrices.iloc[idx[0]], np.int64).reshape(d, w)
            buckets = _row_hashes(items.iloc[idx], item_dtype, d, w, seed)
            vals = mat[np.arange(d)[None, :], buckets]  # (n, d)
            ests[idx] = vals.min(axis=1)
            eps_tot[idx] = int(math.ceil(relative_error(w) * int(totals.iloc[idx[0]])))
        return [ests, ests, np.maximum(ests - eps_tot, 0)]

    out = [
        StructField(c, LongType(), True) for c in ("estimate", "upper_bound", "lower_bound")
    ]
    return map_rows(joined, [item_col] + sketch_cols, probe, out, drop=sketch_cols)
