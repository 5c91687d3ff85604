"""Bloom filter — two-stage OR-merge Spark aggregate + broadcast probe.

Reference semantics (filters/include/bloom_filter.hpp, bloom_filter_impl.hpp):
  - m-bit array, k hash functions via double hashing: index_i =
    (h0 + i·h1) mod m over a 64-bit base hash (bloom_filter_impl.hpp:
    617-635 uses xxhash64 pairs; we derive h0, h1 from one murmur128-based
    63-bit hash pair, same structure);
  - query = all k bits set; no false negatives, false-positive rate
    ≈ (1 - e^{-kn/m})^k;
  - builder sizing: optimal m = ceil(-n ln(p) / ln2²), k = round((m/n)·ln2)
    (bloom_filter.hpp:649-665);
  - union = OR, intersect = AND (bloom_filter.hpp:505-517) — requires
    identical (m, k, seed), enforced via config columns.

Spark mapping: per-partition packed uint8 bit arrays via
``_twostage.fold_partials`` (np.bitwise_or reduce), final OR merge; the filter row is broadcast for
probing, which is the scale pattern: build once over the small/dim side,
prefilter the huge fact side *before* the exact join — the exact join then
only sees survivors, and the result is identical to the unfiltered join
because bloom never produces false negatives.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import BooleanType, StructField

from ..hashing import DEFAULT_SEED, hash63_int64, hash63_str_many

from ..hashing import INT_DTYPES as _INT_TYPES  # one shared definition
from ._twostage import fold_partials, map_rows, merge_groups, notna


def suggest_num_bits(n: int, fpp: float) -> int:
    """optimal m = ceil(-n ln p / ln²2) — bloom_filter.hpp:649-657."""
    return max(8, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))


def suggest_num_hashes_from(n: int, m: int) -> int:
    """k = max(1, round((m/n)·ln 2)) — bloom_filter.hpp:659-665."""
    return max(1, int(round(m / max(n, 1) * math.log(2))))


def _base_hashes(items: pd.Series, dtype: str, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(h0, h1) uint64 pairs for double hashing (h1 forced odd so the
    probe sequence walks the whole table)."""
    if dtype in _INT_TYPES:
        h0 = hash63_int64(items.to_numpy(dtype=np.int64), seed)
        h1 = hash63_int64(items.to_numpy(dtype=np.int64), seed ^ 0x5BD1E995)
    else:
        svals = [str(v) for v in items]
        h0 = hash63_str_many(svals, seed)
        h1 = hash63_str_many(svals, seed ^ 0x5BD1E995)
    return h0, h1 | np.uint64(1)


def _bit_positions(
    items: pd.Series, dtype: str, num_bits: int, num_hashes: int, seed: int
) -> np.ndarray:
    h0, h1 = _base_hashes(items, dtype, seed)
    i = np.arange(num_hashes, dtype=np.uint64)[None, :]
    return ((h0[:, None] + i * h1[:, None]) % np.uint64(num_bits)).astype(np.int64)


def bloom_filter_agg(
    df: DataFrame,
    item_col: str,
    num_bits: int,
    num_hashes: int,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Build ONE bloom filter over a column (ungrouped — filters are
    broadcast objects, not per-group rows): returns a single-row DataFrame
    (bits binary, num_bits int, num_hashes int, seed long, n_items long);
    no row when the column holds no non-null item."""
    item_dtype = dict(df.dtypes)[item_col]
    nbytes = (num_bits + 7) // 8
    schema = "bits binary, num_bits int, num_hashes int, seed long, n_items long"

    def update(st: list, pos: np.ndarray) -> None:
        st[1] += len(pos)
        pos = pos.ravel()
        np.bitwise_or.at(st[0], pos >> 3, (1 << (pos & 7)).astype(np.uint8))

    def emit(st: list) -> list[dict]:
        return [{"bits": st[0].tobytes(), "num_bits": num_bits, "num_hashes": num_hashes,
                 "seed": seed, "n_items": st[1]}]

    # state: [packed bit array, item count]
    partials = fold_partials(
        df.where(notna(df, item_col)), [], [item_col],
        lambda s: (_bit_positions(s, item_dtype, num_bits, num_hashes, seed),),
        lambda: [np.zeros(nbytes, dtype=np.uint8), 0], update, emit, schema,
    )

    def final(rows: list[dict]) -> list[dict]:
        assert all(
            r["num_bits"] == num_bits and r["num_hashes"] == num_hashes for r in rows
        ), "bloom union requires identical (m, k, seed)"
        arr = np.zeros(nbytes, dtype=np.uint8)
        for r in rows:
            arr |= np.frombuffer(r["bits"], dtype=np.uint8)
        return [{"bits": arr.tobytes(), "num_bits": num_bits, "num_hashes": num_hashes,
                 "seed": seed, "n_items": sum(r["n_items"] for r in rows)}]

    return merge_groups(partials, [], final, schema)


def _contains(
    items: pd.Series, dtype: str, bits: bytes, num_bits: int, num_hashes: int, seed: int
) -> np.ndarray:
    """Whether each item's bits are all set in the filter ``bits``. A
    null item answers False: the filter was never updated with a null
    (updates drop notna rows), so membership is definitively False."""
    arr = np.frombuffer(bits, dtype=np.uint8)
    valid = items.notna().to_numpy()
    ans = np.zeros(len(items), bool)
    if valid.any():
        pos = _bit_positions(items[valid], dtype, num_bits, num_hashes, seed)  # (n, k)
        ans[valid] = ((arr[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1).all(axis=1)
    return ans


def might_contain(
    probe_df: DataFrame,
    filter_df: DataFrame,
    item_col: str,
    out_col: str = "might_contain",
) -> DataFrame:
    """Append a boolean membership column by broadcasting the (single-row)
    filter to every probe partition. No false negatives — a False is
    definitive."""
    item_dtype = dict(probe_df.dtypes)[item_col]
    filter_cols = ["bits", "num_bits", "num_hashes", "seed"]
    joined = probe_df.crossJoin(F.broadcast(filter_df.select(*filter_cols)))

    def probe(items, bits, num_bits, num_hashes, seed):
        return [_contains(
            items, item_dtype, bits.iloc[0],
            int(num_bits.iloc[0]), int(num_hashes.iloc[0]), int(seed.iloc[0]),
        )]

    return map_rows(
        joined, [item_col] + filter_cols, probe,
        [StructField(out_col, BooleanType(), True)], drop=filter_cols,
    )


_FILTER_SCHEMA = "bits binary, num_bits int, num_hashes int, seed long, n_items long"


def _combine_filters(filters_df: DataFrame, op: str) -> DataFrame:
    """OR/AND every filter row of ``filters_df`` into one — the reference's
    ``union_with`` / ``intersect`` (bloom_filter.hpp:505-512). Requires
    identical (num_bits, num_hashes, seed), enforced exactly like the
    reference's compatibility check. ``n_items`` degrades to an upper
    bound: sum for union (each true item is in some input), min for
    intersect (the result holds at most the smaller side)."""

    def merge(rows: list[dict]) -> list[dict]:
        cfgs = {(r["num_bits"], r["num_hashes"], r["seed"]) for r in rows}
        if len(cfgs) != 1:
            raise ValueError(
                f"bloom {op} requires identical (num_bits, num_hashes, seed); got "
                f"{[dict(zip(('num_bits', 'num_hashes', 'seed'), c)) for c in cfgs]}"
            )
        mats = np.stack([np.frombuffer(r["bits"], dtype=np.uint8) for r in rows])
        arr = (np.bitwise_or if op == "union" else np.bitwise_and).reduce(mats, axis=0)
        counts = [r["n_items"] for r in rows]
        return [{
            "bits": arr.tobytes(),
            "num_bits": rows[0]["num_bits"],
            "num_hashes": rows[0]["num_hashes"],
            "seed": rows[0]["seed"],
            "n_items": sum(counts) if op == "union" else min(counts),
        }]

    return merge_groups(filters_df, [], merge, _FILTER_SCHEMA)


def bloom_union(filters_df: DataFrame) -> DataFrame:
    """OR-merge every filter row into one (bloom_filter.hpp:505 union_with).
    No false negatives survive: an item in ANY input filter is in the
    union. Filters are single rows, so this is a driver-size aggregate."""
    return _combine_filters(filters_df, "union")


def bloom_intersect(filters_df: DataFrame) -> DataFrame:
    """AND-merge every filter row (bloom_filter.hpp:512 intersect): an item
    present in ALL inputs still has all its bits set (no false negatives
    w.r.t. the true intersection); false-positive rate is higher than a
    filter built directly on the intersection — same caveat as the
    reference documents."""
    return _combine_filters(filters_df, "intersect")


def bloom_invert(filter_df: DataFrame) -> DataFrame:
    """Flip every bit (bloom_filter.hpp:517 invert) — approximately inverts
    set membership: items NOT in the original set now probe true with high
    probability; items in the original set probe false unless hash
    collisions keep all their bits set. ``n_items`` becomes -1 (unknown),
    as the complement's cardinality is not tracked."""

    def flip(rows: list[dict]) -> list[dict]:
        return [
            dict(r, bits=np.bitwise_not(np.frombuffer(r["bits"], dtype=np.uint8)).tobytes(),
                 n_items=-1)
            for r in rows
        ]

    return merge_groups(filter_df, [], flip, _FILTER_SCHEMA)


def bloom_prefilter_join(
    fact_df: DataFrame,
    dim_df: DataFrame,
    fact_key: str,
    dim_key: str,
    fpp: float = 0.01,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """The production pattern: build a bloom filter on the dim keys, prune
    the fact side before the exact join. Result rows are IDENTICAL to the
    plain join (no false negatives ⇒ nothing true is pruned; the exact
    join removes false positives) — only the shuffled volume changes. At
    100 TB this is the difference between shuffling the whole fact table
    and shuffling the ~matching slice."""
    n = dim_df.select(dim_key).distinct().count()
    m = suggest_num_bits(n, fpp)
    k = suggest_num_hashes_from(n, m)
    filt = bloom_filter_agg(dim_df, dim_key, m, k, seed)
    pruned = might_contain(fact_df, filt, fact_key).where(F.col("might_contain")).drop(
        "might_contain"
    )
    return pruned.join(dim_df, pruned[fact_key] == dim_df[dim_key])
