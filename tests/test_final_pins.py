"""Pinned output of every two-stage final that no other pin holds: theta,
HLL (sketch, merge, stream), CPC (sketch, union, stream), frequent items
(unweighted and weighted), count-min, bloom (filter, union, intersect,
invert), var-opt and the three tuple aggregates. The six families that run
through ``_twostage.sketch_agg`` are pinned in ``tests/test_quantile_pins.py``.

Each aggregate's collected rows are hashed sorted, with its output schema
(names and types), grouped by a string and a long key above 2^53 and with
no key, and once more grouped under ``maxRecordsPerBatch=2``, where every
group's partial rows span many Arrow batches on the way into the final.
The frame is deterministic, has six input partitions (so each group merges
several partial rows) and holds no null or NaN in its keys or items.

Var-opt tags each partial row with a random id, but its final only uses
the tag to count each partial's totals once, so its output is pinned whole.
"""

import hashlib
import math

import pyspark.sql.functions as F
import pytest

from datasketches_cpp_spark.functions import (
    bloom,
    countmin,
    cpc,
    freq,
    hll,
    sampling,
    theta,
    tuplesketch,
)

SEED = 20261019
BIG = 2**53


def _hll_merge(df, g):
    """Two tables over the halves of ``df``, at different ``lg_k``."""
    a = hll.hll_sketch_agg(df.where("id % 2 = 0"), g, "item", lg_k=6, keep_registers=True)
    b = hll.hll_sketch_agg(df.where("id % 2 = 1"), g, "item", lg_k=7, keep_registers=True)
    return hll.hll_merge_sketches(a, b, g)


def _cpc_union(df, g):
    """Two tables over the halves of ``df``, at different ``lg_k``."""
    a = cpc.cpc_sketch_agg(df.where("id % 2 = 0"), g, "l", lg_k=6)
    b = cpc.cpc_sketch_agg(df.where("id % 2 = 1"), g, "l", lg_k=7)
    return cpc.cpc_union_agg(a.unionByName(b), g)


def _filters(df):
    """Three filters over thirds of the items, one row each."""
    parts = [
        bloom.bloom_filter_agg(df.where(f"id % 3 = {i}"), "item", 512, 3) for i in range(3)
    ]
    return parts[0].unionByName(parts[1]).unionByName(parts[2])


# each aggregate over (frame, group columns); None in place of the group
# columns means the aggregate takes none
AGGS = {
    "theta_sketch_agg": lambda df, g: theta.theta_sketch_agg(df, g, "l", lg_k=5),
    "hll_sketch_agg": lambda df, g: hll.hll_sketch_agg(
        df, g, "item", lg_k=6, keep_registers=True),
    "hll_merge_sketches": _hll_merge,
    "hll_stream_agg": lambda df, g: hll.hll_stream_agg(df, g, "l", lg_k=6),
    "cpc_sketch_agg": lambda df, g: cpc.cpc_sketch_agg(df, g, "l", lg_k=6),
    "cpc_union_agg": _cpc_union,
    "cpc_stream_agg": lambda df, g: cpc.cpc_stream_agg(df, g, "l", lg_k=6),
    "frequent_items_agg": lambda df, g: freq.frequent_items_agg(
        df, g, "hot", max_map_size=8),
    "frequent_items_agg_weighted": lambda df, g: freq.frequent_items_agg(
        df, g, "hot", max_map_size=8, weight_col="wl"),
    "count_min_agg": lambda df, g: countmin.count_min_agg(
        df, g, "item", num_hashes=3, num_buckets=64, weight_col="wl"),
    "bloom_filter_agg": lambda df, g: bloom.bloom_filter_agg(df, "item", 512, 3),
    "bloom_union": lambda df, g: bloom.bloom_union(_filters(df)),
    "bloom_intersect": lambda df, g: bloom.bloom_intersect(_filters(df)),
    "bloom_invert": lambda df, g: bloom.bloom_invert(
        bloom.bloom_filter_agg(df, "item", 512, 3)),
    "var_opt_agg": lambda df, g: sampling.var_opt_agg(df, g, "item", "w", k=8),
    "tuple_sketch_agg": lambda df, g: tuplesketch.tuple_sketch_agg(
        df, g, "item", "w", lg_k=4),
    "array_tuple_sketch_agg": lambda df, g: tuplesketch.array_tuple_sketch_agg(
        df, g, "item", "vals", 2, lg_k=4),
    "aos_sketch_agg": lambda df, g: tuplesketch.aos_sketch_agg(df, g, "ak", "av", lg_k=4),
}
KEYLESS_ONLY = {"bloom_filter_agg", "bloom_union", "bloom_intersect", "bloom_invert"}

# sha256 prefixes of (schema, sorted rows): (keyed, keyless, keyed or, for
# a keyless-only aggregate, keyless under maxRecordsPerBatch=2), taken
# while every final still took a pandas frame
PINS = {
    "aos_sketch_agg": ("c2d7ee2ea968db95", "a390ad63ff1d90e7", "ba2126365ff520ea"),
    "array_tuple_sketch_agg": ("bc43825decb72497", "ff290f92d179380d", "1732dd8ccebc8a8f"),
    "bloom_filter_agg": (None, "684c636f330a66bf", "c4e32502cd4ae821"),
    "bloom_intersect": (None, "d8a80f68f434092f", "f642f5359136d5cf"),
    "bloom_invert": (None, "5c46c5af66b92d2d", "5c46c5af66b92d2d"),
    "bloom_union": (None, "684c636f330a66bf", "c4e32502cd4ae821"),
    "count_min_agg": ("7731b48a793d883c", "9cf80d74820e1e51", "5a22df180eab44fd"),
    "cpc_sketch_agg": ("bdfab1874a09e02b", "ea011c8987f4c7a7", "4dccd88121d99988"),
    "cpc_stream_agg": ("190a8d20ccd15f1f", "f5ec16f21e7202dc", "77d27fe6ac3959e9"),
    "cpc_union_agg": ("e32afc0ff949ea2e", "ea011c8987f4c7a7", "63685a2312f54bfe"),
    "frequent_items_agg": ("3dfa7c2ac95f8e6f", "253d658d3ff50a97", "3f9d1940a70546e3"),
    "frequent_items_agg_weighted": ("1bf4d4b67c2ac9ba", "6e4e7ab9cc913a22", "32aa4edc6aebbf66"),
    "hll_merge_sketches": ("892abbd1b37f2143", "45f6faf157e204c7", "d8170b29c60a7eb8"),
    "hll_sketch_agg": ("1aeabe0ff9ed06f9", "b4c15534e66d5f49", "02fdf3a1c46736e8"),
    "hll_stream_agg": ("524a0da5b15080a9", "dcac5741047863ec", "e7dc9559a02b6e26"),
    "theta_sketch_agg": ("2b246d401ea6e8e5", "41418ee1bc9c9eba", "fdc67f7123536fc1"),
    "tuple_sketch_agg": ("2be9bb4c66ad23f6", "89783f68cbf753b0", "a7a014c307fb8dda"),
    "var_opt_agg": ("bb48df2934f5727d", "2284e9921a3105b2", "937fb655f0dc0d7b"),
}


def _frame(spark, n):
    h = F.xxhash64(F.col("id"), F.lit(SEED))
    return spark.range(0, n, numPartitions=6).select(
        "id",
        F.concat(F.lit("g"), F.pmod(h, F.lit(3)).cast("string")).alias("g"),
        (F.pmod(F.col("id"), F.lit(2)) + F.lit(BIG + 1)).alias("k"),
        F.pmod(F.col("id") * 31, F.lit(97)).cast("string").alias("item"),
        # half the rows on three heavy items, so frequent items keeps some
        F.when(F.col("id") % 2 == 0, F.col("id") % 3)
        .otherwise(F.pmod(F.col("id") * 31, F.lit(97)))
        .cast("string")
        .alias("hot"),
        (F.pmod(h, F.lit(100003)) + F.lit(BIG)).alias("l"),
        (F.pmod(F.col("id"), F.lit(4)) + 1).cast("double").alias("w"),
        (F.pmod(F.col("id"), F.lit(3)) + 1).alias("wl"),
        F.array(F.lit(1.0), (F.col("id") % 5).cast("double")).alias("vals"),
        F.array(F.pmod(F.col("id") * 31, F.lit(97)).cast("string")).alias("ak"),
        F.array(F.lit("x"), F.pmod(h, F.lit(5)).cast("string")).alias("av"),
    )


def _canon(v):
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v.hex()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def _hash(df):
    rows = sorted(repr(_canon(list(r))) for r in df.collect())
    assert rows
    text = "\n".join([df.schema.simpleString()] + rows)
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def _pins(spark, name):
    agg = AGGS[name]
    df = _frame(spark, 1200)
    keyed = None if name in KEYLESS_ONLY else _hash(agg(df, ["g", "k"]))
    keyless = _hash(agg(df, []))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        small = _hash(agg(_frame(spark, 300), [] if name in KEYLESS_ONLY else ["g", "k"]))
    finally:
        spark.conf.set(key, old)
    return keyed, keyless, small


@pytest.mark.parametrize("name", sorted(AGGS))
def test_final_output_pinned(spark, name):
    assert _pins(spark, name) == PINS[name]
