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

A second frame holds items of the types the first does not (timestamp,
date, decimal, boolean, binary, each null in every eleventh row), and each
family is pinned over every one of them it accepts, in a session whose
time zone is not UTC: a family that hashes an item by its text sees a
timestamp as its local wall-clock time.
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


# sha256 prefixes of the sorted partial rows over each item type a family
# accepts, grouped by "g" (bloom: keyless). Frequent items is left out over
# timestamps and dates: its final fails on both.
# The four float quantile families over timestamps are pinned as the first
# pins were taken but without the rows whose timestamp is null: pandas read
# a null timestamp as -2^63 ns, which these families then held as an item;
# now they drop it as they drop every other null item.
TYPE_PINS = {
    ("bloom", "ts"): "998c98ca3fc48c85",
    ("bloom", "dec"): "9349e4db45a1c7eb",
    ("bloom", "bo"): "813f7fa7dd51a697",
    ("bloom", "bin"): "d5de66ab8b6d5e4f",
    ("classic", "ts"): "87d7a62ac3bb403f",  # a null timestamp dropped, see above
    ("classic", "dec"): "c90046818cb3be55",
    ("classic", "bo"): "40834cd85d40e43e",
    ("countmin", "ts"): "77f78794b8875950",
    ("countmin", "dec"): "968a111de2a96ecc",
    ("countmin", "bo"): "42a1c0c617cadda5",
    ("countmin", "bin"): "d4a006558844726d",
    ("cpc", "ts"): "734c878f6f95521a",
    ("cpc", "dec"): "3cb69ee2f77e03ed",
    ("cpc", "bo"): "b73bc619ed4cd565",
    ("cpc", "bin"): "1dda49792c1d6a7e",
    ("freq", "dec"): "d4938170e73f21a5",
    ("freq", "bo"): "b75c7cc2ef41285c",
    ("freq", "bin"): "72ac2a7c64be7351",
    ("hll", "ts"): "8d6a4fa350099ad5",
    ("hll", "dec"): "2be673f59a8f9a26",
    ("hll", "bo"): "b0efe65dec02a654",
    ("hll", "bin"): "33fae75149667bdd",
    ("kll", "ts"): "81903fac51ae674f",  # a null timestamp dropped, see above
    ("kll", "dec"): "116c19badb69f56a",
    ("kll", "bo"): "b0c2e9e07dfad790",
    ("req", "ts"): "3a24e86514b665f6",  # a null timestamp dropped, see above
    ("req", "dec"): "37c2728b267570f8",
    ("req", "bo"): "a9ebcce612958e49",
    ("sampling", "dt"): "e17bf3a9bbe903c4",
    ("sampling", "dec"): "b9a87b50e9147267",
    ("sampling", "bo"): "df60e09f310ee295",
    ("sampling", "bin"): "82ad104d513bfa20",
    ("tdigest", "ts"): "23257abc2ca4c303",  # a null timestamp dropped, see above
    ("tdigest", "dec"): "710be501776c55b3",
    ("tdigest", "bo"): "69b01fa8cc30afef",
    ("theta", "ts"): "6b5ebab2aa156302",
    ("theta", "dec"): "869acab53ee9226e",
    ("theta", "bo"): "b60c60fed3eb5080",
    ("theta", "bin"): "1290f274a094b133",
    ("tuple", "ts"): "b5f785f56c98ba31",
    ("tuple", "dec"): "b6e52fff2d66ffed",
    ("tuple", "bo"): "b8cd237a0d9ca7e9",
    ("tuple", "bin"): "570f91feafd4dc00",
    ("array_tuple", "ts"): "967b981337f6bec6",
    ("array_tuple", "dec"): "96bd0b0c6367e169",
    ("array_tuple", "bo"): "569b97315d796375",
    ("array_tuple", "bin"): "e8b277aad3cde842",
}

TYPED = {
    "bloom": lambda df, c: bloom.bloom_filter_agg(df, c, 512, 3),
    "classic": lambda df, c: classic_quantiles.classic_quantiles_agg(df, ["g"], c, k=8),
    "countmin": lambda df, c: countmin.count_min_agg(
        df, ["g"], c, num_hashes=3, num_buckets=64, weight_col="wl"
    ),
    "cpc": lambda df, c: cpc.cpc_sketch_agg(df, ["g"], c, lg_k=6),
    "freq": lambda df, c: freq.frequent_items_agg(df, ["g"], c, max_map_size=8, weight_col="wl"),
    "hll": lambda df, c: hll.hll_sketch_agg(df, ["g"], c, lg_k=6),
    "kll": lambda df, c: quantiles.kll_sketch_agg(df, ["g"], c, k=16),
    "req": lambda df, c: req.req_sketch_agg(df, ["g"], c, k=4),
    "sampling": lambda df, c: sampling.var_opt_agg(df, ["g"], c, "w", k=8),
    "tdigest": lambda df, c: tdigest.tdigest_agg(df, ["g"], c, delta=20),
    "theta": lambda df, c: theta.theta_sketch_agg(df, ["g"], c, lg_k=5),
    "tuple": lambda df, c: tuplesketch.tuple_sketch_agg(df, ["g"], c, "w", lg_k=4),
    "array_tuple": lambda df, c: tuplesketch.array_tuple_sketch_agg(
        df, ["g"], c, "vals", 2, lg_k=4
    ),
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


def _typed_frame(spark, n):
    h = F.xxhash64(F.col("id"), F.lit(SEED))
    items = {
        # whole seconds and fractions of one
        "ts": F.timestamp_seconds(
            F.lit(1704067200) + F.pmod(h, F.lit(50)) * 3600 + F.pmod(F.col("id"), F.lit(3)) / 8
        ),
        "dt": F.date_add(F.lit("2024-01-01").cast("date"), F.pmod(h, F.lit(40)).cast("int")),
        "dec": (F.pmod(h, F.lit(97)) / 4).cast("decimal(10,2)"),
        "bo": F.pmod(h, F.lit(3)) == 0,
        "bin": F.unhex(F.hex(F.pmod(h, F.lit(60)) * 1000003)),
    }
    present = F.col("id") % 11 != 0
    return spark.range(0, n, numPartitions=6).select(
        F.concat(F.lit("g"), F.pmod(h, F.lit(3)).cast("string")).alias("g"),
        *(F.when(present, c).alias(name) for name, c in items.items()),
        (F.pmod(F.col("id"), F.lit(4)) + 1).cast("double").alias("w"),
        (F.pmod(F.col("id"), F.lit(3)) + 1).alias("wl"),
        F.array(F.lit(1.0), (F.col("id") % 5).cast("double")).alias("vals"),
    )


def _canon(v):
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v.hex()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def _partial_hash(monkeypatch, family, df, group_cols, agg=None):
    module, agg = FAMILIES[family][0], agg or FAMILIES[family][1]
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


def test_partial_state_pinned_item_types(spark, monkeypatch):
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        df = _typed_frame(spark, 600)
        got = {
            (family, item): _partial_hash(
                monkeypatch, family, df, None, lambda d, _: TYPED[family](d, item)
            )
            for family, item in TYPE_PINS
        }
    finally:
        spark.conf.set(key, old)
    assert got == TYPE_PINS
