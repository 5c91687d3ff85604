"""Pinned answers of every per-row reader of a sketch table: the serde
writers and readers of five families, the bloom and count-min probes,
CPC's estimate, and the three keyed set-ops (theta, tuple, array-of-doubles
tuple), keyed by a string, a long and a double column and globally.

Each site's collected rows are hashed sorted, with its output schema
(names and types). The sketch tables are built once, collected and handed
back through ``createDataFrame``, so each site costs one small query. The
frame is deterministic and holds no null or NaN in its keys or items, and
both sides of every keyed set-op hold every key, so no join leaves a null
either: the pins hold answers that are correct as they stand.

``hll_from_bytes`` is pinned as the inverse of ``with_hll_bytes``: the
registers come back identical, and a stream of another ``lg_k`` fails.

The two item probes are pinned again over items of the types the frame
does not hold (timestamp, decimal, boolean, binary, each null in every
eleventh row), in a session whose time zone is not UTC.
"""

import hashlib
import math

import pyspark.sql.functions as F
import pytest

from datasketches_cpp_spark.functions import (
    bloom,
    classic_quantiles,
    classicserde,
    countmin,
    cpc,
    cpcserde,
    density,
    densityserde,
    hll,
    hllserde,
    theta,
    thetaserde,
    tuplesketch,
)

SEED = 20250311
BIG = 2**53

# sha256 prefixes of (schema, sorted rows) per site, taken before the sites
# shared one Arrow row map
PINS = {
    "bloom_might_contain": "080a4dcdfeda992f",
    "classic_from_bytes": "ed43396df0d32c97",
    "countmin_cross": "89d2d82bdbd96922",
    "countmin_keyed": "df665eb0e1685828",
    "cpc_from_bytes": "1cd1cdc6b81ab5c2",
    "cpc_with_estimate": "adf6f7f700957123",
    "density_from_bytes": "638df5435f106813",
    "hll_from_bytes": "a4010379b22af707",
    "theta_from_bytes": "2075c6bcc006111b",
    "theta_setops_double": "8c4fab9e30b1f28b",
    # taken after the set-ops shared one join: before it, the theta set-op
    # failed without key columns
    "theta_setops_global": "eb89268fdd9d4aeb",
    "theta_setops_long": "8edbfbc6ee6318bf",
    "theta_setops_string": "381d1d1b7559daa5",
    "tuple_setops_double": "06a894de90b9aac0",
    "tuple_setops_global": "a0d3c64dd224571c",
    "tuple_setops_long": "9db6276906f84f04",
    "tuple_setops_string": "8066c58afa9af289",
    "array_tuple_setops_double": "768225ca2f410793",
    "array_tuple_setops_global": "3aa8fc9ca1f5e12a",
    "array_tuple_setops_long": "57f4e9cbdebb28d7",
    "array_tuple_setops_string": "ff7095b2acf64f40",
    "with_classic_bytes": "d13f80e0d786ce39",
    "with_cpc_bytes": "8f39d13f60d99e56",
    "with_density_bytes": "57b617fe7e78a122",
    "with_hll_bytes": "7312e31128fa251d",
    "with_theta_bytes": "c8e5343dd22f7130",
}


def _frame(spark, n=900):
    h = F.xxhash64(F.col("id"), F.lit(SEED))
    return spark.range(0, n, numPartitions=3).select(
        F.concat(F.lit("g"), F.pmod(h, F.lit(3)).cast("string")).alias("g"),
        (F.pmod(h, F.lit(3)) + F.lit(BIG + 1)).alias("k"),
        (F.pmod(h, F.lit(3)) * 0.5 + 0.25).alias("d"),
        F.pmod(F.col("id"), F.lit(2)).alias("side"),
        (F.pmod(h, F.lit(1009)) / 10.0).alias("v"),
        F.pmod(F.col("id") * 31, F.lit(97)).cast("string").alias("item"),
        (F.pmod(h, F.lit(100003)) + F.lit(BIG)).alias("l"),
        F.array((F.pmod(h, F.lit(101)) / 7.0), (F.col("id") % 7).cast("double")).alias("vec"),
        F.array(F.col("id") % 5 / 4.0, (F.pmod(h, F.lit(13)) / 3.0)).alias("vals"),
    )


def _local(spark, df):
    """``df`` computed once, as a local relation with the same schema."""
    return spark.createDataFrame(df.collect(), df.schema)


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


@pytest.fixture(scope="module")
def frame(spark):
    return _local(spark, _frame(spark))


def test_serde_sites_pinned(spark, frame):
    keys = ["g", "k"]
    got = {}
    sk = _local(spark, theta.theta_sketch_agg(frame, keys, "l", lg_k=5))
    blobs = _local(spark, thetaserde.with_theta_bytes(sk))
    got["with_theta_bytes"] = _hash(blobs)
    got["theta_from_bytes"] = _hash(
        thetaserde.theta_from_bytes(blobs.select(*keys, "sketch_bytes"))
    )

    sk = _local(spark, cpc.cpc_sketch_agg(frame, keys, "l", lg_k=6))
    blobs = _local(spark, cpcserde.with_cpc_bytes(sk))
    got["with_cpc_bytes"] = _hash(blobs)
    got["cpc_from_bytes"] = _hash(cpcserde.cpc_from_bytes(blobs.select(*keys, "sketch_bytes")))
    got["cpc_with_estimate"] = _hash(cpc.with_estimate(sk))

    sk = _local(spark, classic_quantiles.classic_quantiles_agg(frame, keys, "v", k=8))
    blobs = _local(spark, classicserde.with_classic_bytes(sk, 8))
    got["with_classic_bytes"] = _hash(blobs)
    got["classic_from_bytes"] = _hash(
        classicserde.classic_from_bytes(blobs.select(*keys, "sketch_bytes"), 8)
    )

    sk = _local(spark, density.density_sketch_agg(frame, keys, "vec", 2, k=8))
    blobs = _local(spark, densityserde.with_density_bytes(sk, 2, 8))
    got["with_density_bytes"] = _hash(blobs)
    got["density_from_bytes"] = _hash(
        densityserde.density_from_bytes(blobs.select(*keys, "sketch_bytes"))
    )

    sk = _local(spark, hll.hll_sketch_agg(frame, keys, "item", lg_k=6, keep_registers=True))
    blobs = _local(spark, hllserde.with_hll_bytes(sk, 6))
    got["with_hll_bytes"] = _hash(blobs)
    back = hllserde.hll_from_bytes(blobs.select(*keys, "sketch_bytes"), 6)
    got["hll_from_bytes"] = _hash(back)
    regs = sk.select(*keys, "regs")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, regs.collect()))
    with pytest.raises(Exception, match="cross-lg_k merge is out of scope"):
        hllserde.hll_from_bytes(blobs.select(*keys, "sketch_bytes"), 7).collect()

    assert got == {s: PINS[s] for s in got}


def test_probe_sites_pinned(spark, frame):
    got = {}
    filt = _local(spark, bloom.bloom_filter_agg(frame.where("side = 0"), "l", 512, 3))
    got["bloom_might_contain"] = _hash(bloom.might_contain(frame.select("g", "k", "l"), filt, "l"))

    probe = frame.select("g", "k", "item").distinct()
    sk = _local(spark, countmin.count_min_agg(frame, ["g"], "item", num_hashes=3, num_buckets=64))
    got["countmin_keyed"] = _hash(countmin.estimate_frequencies(sk, probe, "item", ["g"]))
    sk = _local(spark, countmin.count_min_agg(frame, [], "item", num_hashes=3, num_buckets=64))
    got["countmin_cross"] = _hash(countmin.estimate_frequencies(sk, probe, "item"))
    assert got == {s: PINS[s] for s in got}


# sha256 prefixes of (schema, sorted rows) per probe and item type
TYPE_PINS = {
    "bloom_might_contain_bin": "e4703488a6346b4d",
    "bloom_might_contain_bo": "a761d64b44abd675",
    "bloom_might_contain_dec": "d5bef0ce87dc0833",
    "bloom_might_contain_ts": "16f211af2ea14e3c",
    "countmin_keyed_bin": "e0a6129e4be9129e",
    "countmin_keyed_bo": "d9a2d73a4fee442b",
    "countmin_keyed_dec": "c869dfadd9731108",
    "countmin_keyed_ts": "ed7975402bf9b5fa",
}


def _typed_frame(spark, n=600):
    h = F.xxhash64(F.col("id"), F.lit(SEED))
    items = {
        # whole seconds and fractions of one
        "ts": F.timestamp_seconds(
            F.lit(1704067200) + F.pmod(h, F.lit(50)) * 3600 + F.pmod(F.col("id"), F.lit(3)) / 8
        ),
        "dec": (F.pmod(h, F.lit(97)) / 4).cast("decimal(10,2)"),
        "bo": F.pmod(h, F.lit(3)) == 0,
        "bin": F.unhex(F.hex(F.pmod(h, F.lit(60)) * 1000003)),
    }
    present = F.col("id") % 11 != 0
    return spark.range(0, n, numPartitions=3).select(
        F.concat(F.lit("g"), F.pmod(h, F.lit(3)).cast("string")).alias("g"),
        F.pmod(F.col("id"), F.lit(2)).alias("side"),
        *(F.when(present, c).alias(name) for name, c in items.items()),
    )


def test_probe_sites_pinned_item_types(spark):
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        frame = _typed_frame(spark)
        got = {}
        for c in ("ts", "dec", "bo", "bin"):
            filt = _local(spark, bloom.bloom_filter_agg(frame.where("side = 0"), c, 512, 3))
            sk = _local(
                spark, countmin.count_min_agg(frame, ["g"], c, num_hashes=3, num_buckets=64)
            )
            probes = {
                "bloom_might_contain": bloom.might_contain(frame.select("g", c), filt, c),
                "countmin_keyed": countmin.estimate_frequencies(
                    sk, frame.select("g", c).distinct(), c, ["g"]
                ),
            }
            for site, out in probes.items():
                # a timestamp collects in the driver's time zone: hash its text
                got[f"{site}_{c}"] = _hash(out.withColumn(c, F.col(c).cast("string")))
    finally:
        spark.conf.set(key, old)
    assert got == TYPE_PINS


SETOP_KEYS = {"string": ["g"], "long": ["k"], "double": ["d"], "global": []}


def test_setop_sites_pinned(spark, frame):
    # g, k and d each name the same three groups, so one keyed sketch
    # table per side serves all three key types
    a, b = frame.where("side = 0"), frame.where("side = 1")
    every = ["g", "k", "d"]
    aggs = {
        "theta": lambda df, keys: theta.theta_sketch_agg(df, keys, "l", lg_k=5),
        "tuple": lambda df, keys: tuplesketch.tuple_sketch_agg(df, keys, "item", "v", lg_k=4),
        "array_tuple": lambda df, keys: tuplesketch.array_tuple_sketch_agg(
            df, keys, "item", "vals", 2, lg_k=4
        ),
    }
    ops = {
        "theta": lambda x, y, keys: theta.theta_pair_set_ops(x, y, keys, 32),
        "tuple": lambda x, y, keys: tuplesketch.tuple_pair_set_ops(x, y, keys, 16),
        "array_tuple": lambda x, y, keys: tuplesketch.array_tuple_pair_set_ops(
            x, y, keys, 16, 2
        ),
    }
    got = {}
    for family, agg in aggs.items():
        keyed = [_local(spark, agg(side, every)) for side in (a, b)]
        for name, keys in SETOP_KEYS.items():
            if keys:
                x, y = (t.drop(*(c for c in every if c not in keys)) for t in keyed)
            else:
                x, y = (_local(spark, agg(side, [])) for side in (a, b))
            got[f"{family}_setops_{name}"] = _hash(ops[family](x, y, keys))
    assert got == {s: PINS[s] for s in got}
