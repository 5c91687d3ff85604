"""Pinned bytes of every two-stage sketch aggregate's partial state.

End hashes cannot see a change in the partial stage of an order-sensitive
family (KLL, classic, t-digest, REQ, var-opt): a different batching or row
order inside a group gives a different, equally valid merge tree. So each
family's partial rows are read directly, by making the module's
``merge_groups`` (or ``_twostage``'s, for a family that runs through
``_twostage.sketch_agg``) return its input, and hashed sorted by (keys,
state).

The frame is deterministic, has six input partitions, and holds no null
or NaN in its keys or items. The order-sensitive families are pinned again
under ``maxRecordsPerBatch=2``, where every group spans many Arrow batches.
"""

import hashlib
import math

import pyspark.sql.functions as F
import pytest

from datasketches_cpp_spark.functions import (
    _twostage,
    bloom,
    classic_quantiles,
    countmin,
    cpc,
    density,
    freq,
    hll,
    kll_items,
    quantiles,
    req,
    sampling,
    tdigest,
    theta,
    tuplesketch,
)

SEED = 20240607

FAMILIES = {
    "bloom": (bloom, lambda df, g: bloom.bloom_filter_agg(df, "item", 512, 3)),
    "classic": (
        classic_quantiles,
        lambda df, g: classic_quantiles.classic_quantiles_agg(df, g, "v", k=8),
    ),
    "countmin": (
        countmin,
        lambda df, g: countmin.count_min_agg(
            df, g, "item", num_hashes=3, num_buckets=64, weight_col="wl"
        ),
    ),
    "cpc": (cpc, lambda df, g: cpc.cpc_sketch_agg(df, g, "l", lg_k=6)),
    "density": (density, lambda df, g: density.density_sketch_agg(df, g, "vec", 2, k=8)),
    "freq": (
        freq,
        lambda df, g: freq.frequent_items_agg(df, g, "item", max_map_size=8, weight_col="wl"),
    ),
    "hll": (hll, lambda df, g: hll.hll_sketch_agg(df, g, "item", lg_k=6)),
    "kll_items": (kll_items, lambda df, g: kll_items.kll_string_agg(df, g, "item", k=8)),
    "kll": (quantiles, lambda df, g: quantiles.kll_sketch_agg(df, g, "v", k=16)),
    "req": (req, lambda df, g: req.req_sketch_agg(df, g, "v", k=4)),
    "sampling": (sampling, lambda df, g: sampling.var_opt_agg(df, g, "item", "w", k=8)),
    "tdigest": (tdigest, lambda df, g: tdigest.tdigest_agg(df, g, "v", delta=20)),
    "theta": (theta, lambda df, g: theta.theta_sketch_agg(df, g, "l", lg_k=5)),
    "tuple": (
        tuplesketch,
        lambda df, g: tuplesketch.tuple_sketch_agg(df, g, "item", "w", lg_k=4),
    ),
    "array_tuple": (
        tuplesketch,
        lambda df, g: tuplesketch.array_tuple_sketch_agg(df, g, "item", "vals", 2, lg_k=4),
    ),
    "aos": (tuplesketch, lambda df, g: tuplesketch.aos_sketch_agg(df, g, "ak", "av", lg_k=4)),
}

ORDER_SENSITIVE = ["classic", "kll", "kll_items", "req", "sampling", "tdigest"]

# sha256 prefixes of the sorted partial rows; (keyed, keyless) per family
PINS = {
    "aos": ("dba5e8e5f1592bc3", "31f15844fa3b272d"),
    "array_tuple": ("35532b7c4dd74290", "c07345f13bb24285"),
    "bloom": (None, "3275ea4778a82af4"),
    "classic": ("50bca99c3a99f442", "89926044951db197"),
    "countmin": ("cf5139ccacf0c600", "e804e9d7245996be"),
    "cpc": ("694a606cbf3fdf0e", "526688b4b95de8d1"),
    "density": ("66dec836b5bdc0b6", "f0547691da0013c3"),
    "freq": ("865a3fec5602ac60", "f5eb610860dc4647"),
    "hll": ("334348a76d571a77", "791df8da6318636d"),
    "kll": ("5f81959231bd4e03", "93b841207b1633fb"),
    "kll_items": ("5d4c1ec854999387", "4a9ebe1c71733078"),
    "req": ("b8c97541d71fd767", "a2e9b5b9a71bceed"),
    "sampling": ("fcfd9e96291a9b92", "184d77b57f73df1d"),
    "tdigest": ("287c9008acbf0f54", "bd977eca91475e1d"),
    "theta": ("a92cd343218fa94d", "fffe004f521e6028"),
    "tuple": ("0304363dfc883d96", "a4ac87fc5f06a0ff"),
}
PINS_SMALL_BATCHES = {
    "classic": "c5f1e6d89acbbc58",
    "kll": "64a348782829a621",
    "kll_items": "12838d83a6516e08",
    "req": "ee0425fcd1293248",
    "sampling": "6c06a6d62f6b010e",
    "tdigest": "884145aebaa60b74",
}


def _frame(spark, n):
    h = F.xxhash64(F.col("id"), F.lit(SEED))
    return spark.range(0, n, numPartitions=6).select(
        F.concat(F.lit("g"), F.pmod(h, F.lit(3)).cast("string")).alias("g"),
        (F.pmod(F.col("id"), F.lit(2)) * 1000 + 7).alias("k"),
        (F.pmod(h, F.lit(1009)) / 10.0).alias("v"),
        F.pmod(F.col("id") * 31, F.lit(97)).cast("string").alias("item"),
        F.pmod(h, F.lit(100003)).alias("l"),
        (F.pmod(F.col("id"), F.lit(4)) + 1).cast("double").alias("w"),
        (F.pmod(F.col("id"), F.lit(3)) + 1).alias("wl"),
        F.array((F.pmod(h, F.lit(101)) / 7.0), (F.col("id") % 7).cast("double")).alias("vec"),
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


def _partial_hash(monkeypatch, family, df, group_cols):
    module, agg = FAMILIES[family]
    with monkeypatch.context() as m:
        # a family that runs through sketch_agg reaches merge_groups there
        target = module if hasattr(module, "merge_groups") else _twostage
        m.setattr(target, "merge_groups", lambda partials, *_: partials)
        partials = agg(df, group_cols)
        # var-opt tags each partial with a random id so its final can
        # count every partial's totals once; the tag is not state
        partials = partials.drop("part_tag")
        rows = sorted(repr(_canon(list(r))) for r in partials.collect())
    assert rows
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_partial_state_pinned(spark, monkeypatch, family):
    df = _frame(spark, 1200)
    keyed = None if family == "bloom" else _partial_hash(monkeypatch, family, df, ["g", "k"])
    keyless = _partial_hash(monkeypatch, family, df, [])
    assert (keyed, keyless) == PINS[family]


@pytest.mark.parametrize("family", ORDER_SENSITIVE)
def test_partial_state_pinned_small_batches(spark, monkeypatch, family):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        got = _partial_hash(monkeypatch, family, _frame(spark, 300), ["g", "k"])
    finally:
        spark.conf.set(key, old)
    assert got == PINS_SMALL_BATCHES[family]
