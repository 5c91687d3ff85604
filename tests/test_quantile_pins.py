"""Pinned answers of the five quantile families: KLL, KLL over strings,
REQ, classic quantiles and t-digest, and of their aggregates and readers.

Without Spark, each family is built from one seeded stream with many
duplicates, at an exact-mode and an estimation-mode size and empty, and
hashed over: ``get_quantile`` on a rank grid that includes 0 and 1,
``get_rank`` inclusive and exclusive (t-digest has one interpolating
rule) on items below the min, above the max, on duplicates and between
them, and ``get_cdf``/``get_pmf`` (KLL, REQ, classic) on the same splits.
``ks_delta`` is hashed over every pair of KLL, REQ, classic and t-digest
sketches of two shifted streams.

With Spark, one seeded few-group table (one group's items all null) goes
through each aggregate and its reader, one query per family. The readers
of REQ, classic, t-digest and density drop the state columns, so the
aggregate's output is copied under ``keep_`` names first, which the
readers keep: each hash covers the merged states, the answers and the
output columns with their types and nullability. The hashes were taken before the
families shared one sorted view and one aggregate scaffold.
"""

import hashlib
import math

import numpy as np
import pyspark.sql.functions as F
import pytest

from datasketches_cpp_spark.functions import (
    classic_quantiles,
    density,
    kll_items,
    quantiles,
    req,
    tdigest,
)
from datasketches_cpp_spark.functions.classic_quantiles import ClassicQuantilesSketch
from datasketches_cpp_spark.functions.kll_items import KllItemSketch
from datasketches_cpp_spark.functions.quantiles import KllSketch, ks_delta
from datasketches_cpp_spark.functions.req import ReqSketch
from datasketches_cpp_spark.functions.tdigest import TDigest

SEED = 20261019
RANKS = [0.0, 0.001, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 0.999, 1.0]
SIZES = [0, 40, 3000]

FAMILIES = {
    "kll": lambda: KllSketch(k=16),
    "kll_items": lambda: KllItemSketch(k=16),
    "req": lambda: ReqSketch(k=4),
    "classic": lambda: ClassicQuantilesSketch(k=8),
    "tdigest": lambda: TDigest(20),
}

# sha256 prefixes of the canonical answers, per family (no Spark)
PINS = {
    "classic": "981feee02f2a15cf",
    "kll": "74f9fa15356aa335",
    "kll_items": "4074353efdd0e803",
    "req": "7bee52b1efaf14dc",
    "tdigest": "2615bb153f128547",
    "ks_delta": "bfbb906dbdc65d46",
}
# the same for one aggregate and its reader over the Spark table
SPARK_PINS = {
    "classic": "e35525b726719e53",
    "density": "0045159b6ca83c15",
    "kll": "f5fe247cb64e37b3",
    "kll_items": "83fc77a276758ede",
    "req": "46e7ab9c797aaff0",
    "tdigest": "f72a1974e6a974c3",
}


def _canon(v):
    if isinstance(v, np.ndarray):
        return _canon(v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float(v).hex()
    return v


def _hash(obj) -> str:
    return hashlib.sha256(repr(_canon(obj)).encode()).hexdigest()[:16]


def _stream(n: int, shift: float = 0.0) -> np.ndarray:
    """Lognormal values rounded to one decimal: many duplicates."""
    rng = np.random.default_rng(SEED)
    return np.round(rng.lognormal(3.0, 1.0, n) + shift, 1)


def _as_items(values: np.ndarray) -> list[str]:
    """Values as zero-padded strings, which sort as the numbers do."""
    return [f"{v:09.1f}" for v in values]


def _sketch(family: str, n: int, shift: float = 0.0):
    sk = FAMILIES[family]()
    vals = _stream(n, shift)
    sk.update_batch(_as_items(vals) if family == "kll_items" else vals)
    return sk


def _probes(n: int) -> list[float]:
    """Below the min, on the min, on duplicates, between values, on the
    max and above it."""
    vals = np.sort(_stream(max(n, 40)))
    uniq, counts = np.unique(vals, return_counts=True)
    dups = uniq[counts > 1][:: max(1, len(uniq[counts > 1]) // 4)][:4]
    between = (vals[len(vals) // 3] + 0.05, vals[2 * len(vals) // 3] + 0.05)
    return sorted({vals[0] - 1.0, vals[0], *dups, *between, vals[-1], vals[-1] + 1.0})


def _answers(family: str, n: int) -> dict:
    sk = _sketch(family, n)
    probes = _probes(n)
    out = {"quantile": [sk.get_quantile(r) for r in RANKS]}
    if family == "kll_items":
        probes = _as_items(np.asarray(probes))
    if family == "tdigest":
        out["rank"] = [sk.get_rank(x) for x in probes]
        return out
    out["rank"] = [sk.get_rank(x) for x in probes]
    out["rank_exclusive"] = [sk.get_rank(x, inclusive=False) for x in probes]
    if family != "kll_items" and not (family == "req" and n == 0):
        out["cdf"] = sk.get_cdf(probes)
        out["pmf"] = sk.get_pmf(probes)
    return out


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_getters_pinned(family):
    got = [_answers(family, n) for n in SIZES]
    assert _hash([sorted(a.items()) for a in got]) == PINS[family]


def test_ks_delta_pinned():
    fams = ["kll", "req", "classic", "tdigest"]
    got = [
        ks_delta(_sketch(a, n), _sketch(b, n, shift=s))
        for n in SIZES
        for s in (0.0, 2.5)
        for a in fams
        for b in fams
    ]
    assert _hash(got) == PINS["ks_delta"]


@pytest.mark.parametrize("n", [0, 40])
@pytest.mark.parametrize("rank", [math.nan, -0.5, 1.5])
@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_rank_outside_unit_interval_raises(family, rank, n):
    """A rank is a number in [0, 1], as in the reference; NaN is not one.
    An empty sketch checks it too."""
    with pytest.raises(ValueError, match="rank"):
        _sketch(family, n).get_quantile(rank)


@pytest.mark.parametrize("family", ["kll", "req", "classic"])
def test_empty_sketch_cdf_and_pmf(family):
    """An empty sketch has no distribution: NaN at every split, and 1.0
    for the tail of the CDF."""
    sk = FAMILIES[family]()
    assert _canon(sk.get_cdf([1.0, 2.0])) == ("nan", "nan", (1.0).hex())
    assert _canon(sk.get_pmf([1.0, 2.0])) == ("nan", "nan", "nan")


# -- Spark: each aggregate and its reader ---------------------------------------

POINTS = np.array([[1.0, 2.0], [40.0, 3.0]])

AGGS = {
    "kll": lambda df: quantiles.with_quantiles(
        quantiles.kll_sketch_agg(df, ["g"], "v", k=16), RANKS, k=16),
    "kll_items": lambda df: kll_items.with_string_quantiles(
        kll_items.kll_string_agg(df, ["g"], "s", k=16), RANKS, k=16),
    # the empty group apart: see test_classic_reader_answers_an_empty_group
    "classic": lambda df: classic_quantiles.with_classic_quantiles(
        _keep(classic_quantiles.classic_quantiles_agg(df.where("g != 'gz'"), ["g"], "v", k=8)),
        RANKS, k=8),
    "req": lambda df: req.with_req_quantiles(
        _keep(req.req_sketch_agg(df, ["g"], "v", k=4)), RANKS, k=4),
    "tdigest": lambda df: tdigest.with_tdigest_quantiles(
        _keep(tdigest.tdigest_agg(df, ["g"], "v", delta=20)), RANKS, delta=20),
    "density": lambda df: density.with_density_estimates(
        _keep(density.density_sketch_agg(df, ["g"], "vec", 2, k=8)), POINTS, 2, k=8),
}


def _keep(agg):
    """The aggregate's columns, and a copy of its state under ``keep_``."""
    return agg.select("*", *(F.col(c).alias(f"keep_{c}") for c in agg.columns if c != "g"))


def _table(spark):
    """Four input partitions; groups g0..g2 and gz, whose items are null."""
    h = F.xxhash64(F.col("id"), F.lit(SEED))
    g = F.when(F.col("id") % 8 == 7, F.lit("gz")).otherwise(
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")))
    v = F.when(g == "gz", F.lit(None)).otherwise(F.round(F.pmod(h, F.lit(1009)) / 10.0, 0))
    return spark.range(0, 2400, numPartitions=4).select(
        g.alias("g"),
        v.alias("v"),
        F.lpad(v.cast("string"), 9, "0").alias("s"),
        F.when(v.isNull(), F.lit(None)).otherwise(
            F.array(v / 7.0, (F.col("id") % 7).cast("double"))).alias("vec"),
    )


@pytest.mark.parametrize("family", sorted(AGGS))
def test_aggregate_and_reader_pinned(spark, family):
    out = AGGS[family](_table(spark))
    rows = sorted(repr(_canon(list(r))) for r in out.collect())
    schema = [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema.fields]
    assert _hash([schema, rows]) == SPARK_PINS[family]


def test_classic_reader_answers_an_empty_group(spark):
    """A group whose items are all null has an empty sketch, whose
    quantiles read NULL, as ``with_quantiles`` gives them."""
    sk = classic_quantiles.classic_quantiles_agg(_table(spark).where("g = 'gz'"), ["g"], "v", k=8)
    out = classic_quantiles.with_classic_quantiles(sk, RANKS, k=8)
    assert [tuple(r) for r in out.collect()] == [("gz", 0, [None] * len(RANKS))]
