"""Frequent-items (Misra-Gries) sketch — two-stage Spark aggregate.

Reference semantics (fi/include/frequent_items_sketch.hpp):
  - bounded map of ⟨item → weight⟩ with ``max_map_size`` entries; on
    overflow, subtract an offset (the reference purges by the median of a
    sample of counts, reverse_purge_hash_map.hpp:28-43 — we use the exact
    (m+1)-th largest, which purges the minimal amount) and drop items ≤ 0;
  - every surviving weight is an OVER-estimate: est = stored, lb = est -
    offset, ub = est; a-priori error ε = 3.5/max_map_size of total weight
    (frequent_items_sketch.hpp:170-183);
  - result modes: NO_FALSE_POSITIVES keeps items with lb > threshold,
    NO_FALSE_NEGATIVES keeps items with ub > threshold
    (frequent_items_sketch.hpp:218-242);
  - merge = add maps item-wise, add offsets, re-purge — associative, so the
    partial/final split is sound.

Exact mode: a sketch that never purged (offset == 0) carries exact counts —
the oracle-checkable corner used by the driver contract (the analog of the
reference's theta exact-mode tests).

Spark mapping: per-partition MG maps via ``_twostage.fold_partials`` (map-side combine:
the shuffle carries ≤ groups × partitions × m rows), final merge in the
shared final stage (``_twostage.merge_groups``). The per-batch fold is one
``np.unique`` count per group + one sorted cut — no per-item Python loop.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ._twostage import fold_partials, merge_groups, notna

NO_FALSE_POSITIVES = "NO_FALSE_POSITIVES"
NO_FALSE_NEGATIVES = "NO_FALSE_NEGATIVES"


class MGState:
    """One group's Misra-Gries state: {item: over-estimate}, offset."""

    __slots__ = ("m", "counts", "offset", "total")

    def __init__(self, m: int):
        self.m = m
        self.counts: dict = {}
        self.offset = 0
        self.total = 0

    def update_batch(self, items: np.ndarray, weights: np.ndarray | None = None) -> None:
        """Fold a batch of items (and their weights) in, item by distinct
        item in the order pandas' ``value_counts`` gives them unweighted
        (``groupby().sum()`` weighted), so the state's bytes match it."""
        keys, first, inverse = np.unique(items, return_index=True, return_inverse=True)
        if weights is None:
            counts = np.bincount(inverse)
            # value_counts: keys in first-seen order, then sorted by count
            # descending, pandas' way (a quicksort over the reversed counts)
            seen = np.argsort(first)
            keys, counts = keys[seen], counts[seen]
            n = len(counts)
            order = np.arange(n)[::-1][counts[::-1].argsort(kind="quicksort")][::-1]
            keys, counts = keys[order], counts[order]
        else:  # groupby().sum(): keys sorted
            counts = np.zeros(len(keys), np.int64)
            np.add.at(counts, inverse, weights)
        for item, w in zip(keys.tolist(), counts.tolist()):
            self.total += w
            cur = self.counts.get(item)
            # new items enter at offset + w (the reference inserts at
            # weight + offset so purged mass is never forgotten)
            self.counts[item] = (cur if cur is not None else self.offset) + w
        self._purge()

    def merge(self, items: list, weights: list, offset: int, total: int) -> None:
        """Reference merge law (frequent_items_sketch: add stored counts
        item-wise, ADD the offsets). Stored values here are FOLDED
        (adjusted count + own offset), so with f = folded, off = offset,
        the merged folded values are:
          in both:   f_a + f_b
          self-only: f_a + off_b   (the other side may have purged this
                                    item up to off_b times — dropping
                                    off_b breaks the over-estimate /
                                    NO_FALSE_NEGATIVES guarantee)
          other-only: f_b + off_a
        """
        self.total += total
        for k in self.counts:
            self.counts[k] += offset
        for item, w in zip(items, weights):
            cur = self.counts.get(item)
            if cur is None:
                self.counts[item] = self.offset + int(w)
            else:
                # cur already gained +offset above; net f_a + f_b
                self.counts[item] = cur + int(w) - offset
        self.offset += offset
        self._purge()

    def _purge(self) -> None:
        if len(self.counts) <= self.m:
            return
        vals = np.fromiter(self.counts.values(), dtype=np.int64)
        # (m+1)-th largest value becomes the new floor: everything at or
        # below it is dropped, offset rises to it
        floor = int(np.partition(vals, len(vals) - self.m - 1)[len(vals) - self.m - 1])
        self.counts = {k: v for k, v in self.counts.items() if v > floor}
        self.offset = floor

    def rows(self) -> tuple[list, list]:
        items = list(self.counts.keys())
        return items, [self.counts[i] for i in items]


def frequent_items_agg(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    max_map_size: int = 64,
    weight_col: str | None = None,
) -> DataFrame:
    """groupBy(group_cols).frequent_items(item_col[, weight_col]) →
    one row per (group, retained item):
      (group..., item, estimate long, lower_bound long, upper_bound long,
       offset long, total_weight long)
    estimate/upper_bound = stored over-estimate; lower_bound = est - offset.
    offset == 0 ⇔ exact (never purged)."""
    item_type = dict(df.dtypes)[item_col]
    group_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in group_cols
    )
    prefix = f"{group_fields}, " if group_fields else ""
    partial_schema = (
        f"{prefix}items array<{item_type}>, weights array<long>, "
        "offset long, total long"
    )
    out_schema = (
        f"{prefix}item {item_type}, estimate long, lower_bound long, "
        "upper_bound long, offset long, total_weight long"
    )
    cols = [item_col] + ([weight_col] if weight_col else [])

    def update(st: MGState, items: np.ndarray, *weights: np.ndarray) -> None:
        st.update_batch(items, weights[0] if weights else None)

    def emit(st: MGState) -> list[dict]:
        items, weights = st.rows()
        return [dict(items=items, weights=weights, offset=st.offset, total=st.total)]

    partials = fold_partials(
        df.where(notna(df, item_col)), group_cols, cols,
        # datetimes as Timestamps, as a pandas index holds them
        lambda s, *w: (
            s.to_numpy(object if s.dtype.kind in "mM" else None),
            *(x.to_numpy().astype(np.int64) for x in w),
        ),
        lambda: MGState(max_map_size), update, emit, partial_schema,
    )

    def final(rows: list[dict]) -> list[dict]:
        st = MGState(max_map_size)
        for r in rows:
            st.merge(list(r["items"]), list(r["weights"]), r["offset"], r["total"])
        return [
            dict(item=item, estimate=w, lower_bound=w - st.offset, upper_bound=w,
                 offset=st.offset, total_weight=st.total)
            for item, w in zip(*st.rows())
        ]

    return merge_groups(partials, group_cols, final, out_schema)


def get_frequent_items(
    sketch_df: DataFrame,
    err_type: str = NO_FALSE_POSITIVES,
    threshold: int | None = None,
) -> DataFrame:
    """Result-mode filter (frequent_items_sketch.hpp:218-242). With
    threshold None the reference uses the a-priori error as threshold."""
    thr = (
        F.lit(threshold)
        if threshold is not None
        else F.col("offset").cast("long")
    )
    if err_type == NO_FALSE_POSITIVES:
        cond = F.col("lower_bound") > thr
    elif err_type == NO_FALSE_NEGATIVES:
        cond = F.col("upper_bound") > thr
    else:
        raise ValueError(f"unknown error type {err_type!r}")
    return sketch_df.where(cond)
