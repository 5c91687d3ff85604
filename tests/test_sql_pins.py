"""Pinned outputs of the whole SQL surface (``sqlfuncs.register_sketch_sql``).

One seeded table holds a blob of every family the scalar functions read:
theta, HLL, CPC, KLL, classic quantiles, REQ, t-digest, frequent items,
count-min, bloom, tuple AOD and var-opt. Most blobs are written by the
engine; the HLL and CPC columns also hold reference-written blobs, so the
coupon (LIST/SET), HIP and merged branches are all read. Its last row
repeats its first, so a blob occurs twice in one Arrow batch. One SELECT
calls all 39 scalar functions, one GROUP BY calls the 9 aggregates over
BIGINT, STRING and DOUBLE values and blob columns, and each result is
hashed. The hashes were taken before the functions moved to ``arrow_udf``.

The NULL rule is tested over the same table: a NULL in any argument of a
scalar function gives NULL, and a NaN argument is a value, not a NULL (a
NaN rank is then refused, as a rank outside [0, 1]).
"""

import hashlib
import math
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import PythonException

from datasketches_cpp_spark import kmv
from datasketches_cpp_spark.functions import hllserde, thetaserde
from datasketches_cpp_spark.functions.bloom import _bit_positions
from datasketches_cpp_spark.functions.classic_quantiles import ClassicQuantilesSketch
from datasketches_cpp_spark.functions.classicserde import serialize_classic
from datasketches_cpp_spark.functions.countmin import _row_hashes
from datasketches_cpp_spark.functions.cpc import _fold_matrix
from datasketches_cpp_spark.functions.cpcserde import serialize_cpc
from datasketches_cpp_spark.functions.fiserde import serialize_frequent_items
from datasketches_cpp_spark.functions.freq import MGState
from datasketches_cpp_spark.functions.hll import _rho
from datasketches_cpp_spark.functions.kllserde import serialize_kll
from datasketches_cpp_spark.functions.quantiles import KllSketch
from datasketches_cpp_spark.functions.req import ReqSketch
from datasketches_cpp_spark.functions.reqserde import serialize_req
from datasketches_cpp_spark.functions.samplingserde import (
    serialize_bloom,
    serialize_countmin,
    serialize_varopt,
)
from datasketches_cpp_spark.functions.tdigest import TDigest
from datasketches_cpp_spark.functions.tdigestserde import serialize_tdigest
from datasketches_cpp_spark.functions.tupleserde import serialize_aod
from datasketches_cpp_spark.hashing import hash63_int64
from datasketches_cpp_spark.sqlfuncs import register_sketch_sql

SEED = 20261019
REFGEN = os.path.join(os.path.dirname(__file__), "golden", "refgen")
# rows 2-4 read reference-written HLL (LIST, SET, dense with HIP) and CPC
# (sparse, HIP, large) blobs; the other rows read the engine's
REF_HLL = ["hll4_lgk11_n4_compact.sk", "hll6_lgk11_n300_updatable.sk", "hll8_lgk11_n5000_updatable.sk"]
REF_CPC = ["cpc_lgk11_n20.sk", "cpc_lgk12_n500.sk", "cpc_lgk10_n100000.sk"]
SIZES = [300, 20000, 0, 3000, 700]

# the 39 scalar functions with their argument columns in ``pin_blobs``
SCALAR_CALLS = {
    "theta_estimate": ["th"],
    "theta_lower_bound": ["th", "s"],
    "theta_upper_bound": ["th", "s"],
    "theta_union_pair": ["th", "th2"],
    "theta_intersection": ["th", "th2"],
    "theta_a_not_b": ["th", "th2"],
    "theta_jaccard": ["th", "th2"],
    "theta_ratio": ["th", "th_sub"],
    "theta_ratio_lower_bound": ["th", "th_sub"],
    "theta_ratio_upper_bound": ["th", "th_sub"],
    "hll_estimate": ["hl"],
    "hll_lower_bound": ["hl", "s"],
    "hll_upper_bound": ["hl", "s"],
    "cpc_estimate": ["cp"],
    "cpc_lower_bound": ["cp", "s"],
    "cpc_upper_bound": ["cp", "s"],
    "kll_quantile": ["kl", "r"],
    "kll_rank": ["kl", "x"],
    "kll_pmf": ["kl", "splits"],
    "kll_cdf": ["kl", "splits"],
    "kll_ks_delta": ["kl", "kl2"],
    "kll_ks_test": ["kl", "kl2", "p"],
    "tdigest_quantile": ["td", "r"],
    "tdigest_rank": ["td", "x"],
    "req_quantile": ["rq", "r"],
    "req_rank": ["rq", "x"],
    "req_rank_lower_bound": ["rq", "r", "s"],
    "req_rank_upper_bound": ["rq", "r", "s"],
    "classic_quantile": ["cq", "r"],
    "classic_rank": ["cq", "x"],
    "classic_pmf": ["cq", "splits"],
    "classic_cdf": ["cq", "splits"],
    "fi_estimate": ["fi", "item"],
    "fi_items": ["fi"],
    "cm_estimate": ["cm", "item"],
    "bloom_might_contain": ["bf", "item"],
    "aod_key_estimate": ["aod"],
    "aod_column_sums": ["aod"],
    "varopt_items": ["vo"],
}
AGG_CALLS = [
    "theta_data2sketch(v.l)", "theta_data2sketch(v.s)", "theta_data2sketch(v.d)",
    "hll_data2sketch(v.l)", "hll_data2sketch(v.s)", "hll_data2sketch(v.d)",
    "cpc_data2sketch(v.l)", "cpc_data2sketch(v.s)", "cpc_data2sketch(v.d)",
    "kll_data2sketch(v.l)", "kll_data2sketch(v.s)", "kll_data2sketch(v.d)",
    "theta_union(b.th)", "hll_union(b.hl)", "cpc_union(b.cp)", "kll_merge(b.kl)",
    "tdigest_merge(b.td)",
]
SCALAR_PIN = "4cd4823a4337b8f9"
AGG_PIN = "158a2490d24dc451"


def _theta(vals) -> bytes:
    sk = kmv.from_hashes(hash63_int64(np.asarray(vals, np.int64)))
    return thetaserde.serialize_compact_v3(sk.theta, sk.hashes)


def _ref(name) -> bytes:
    with open(os.path.join(REFGEN, name), "rb") as f:
        return f.read()


def _blob_row(i, n):
    rng = np.random.default_rng(SEED + i)
    ints = rng.integers(0, 4 * n + 1, n)
    xs = rng.normal(100.0, 15.0, n)
    words = pd.Series([f"w{int(v)}" for v in rng.zipf(1.6, max(n, 1) // 2)])
    a, b = kmv.from_hashes(hash63_int64(ints)), kmv.from_hashes(hash63_int64(ints + n))
    sub = kmv.intersection(a, b)

    h = hash63_int64(ints)
    lg = 10
    regs = np.zeros(1 << lg, np.uint8)
    np.maximum.at(regs, (h & np.uint64((1 << lg) - 1)).astype(np.int64), _rho(h, lg))
    mat = np.zeros(1 << 11, np.uint64)
    _fold_matrix(mat, h, 11)

    kl, kl2 = KllSketch(200), KllSketch(200)
    cq, rq, td = ClassicQuantilesSketch(128), ReqSketch(12), TDigest(100)
    if n:
        kl.update_batch(xs)
        kl2.update_batch(xs[: n // 2] + 5.0)
        cq.update_batch(xs)
        rq.update_batch(xs)
        td.update_batch(xs)
    mg = MGState(64)
    mg.update_batch(words)
    nh, nb = 3, 128
    idx = _row_hashes(words, "str", nh, nb, 9001)
    cm = np.zeros((nh, nb), np.uint64)
    for r in range(nh):
        np.add.at(cm[r], idx[:, r], 1)
    pos = _bit_positions(words, "str", 1024, 4, 9001)
    bits = np.zeros(1024, np.uint8)
    bits[pos.ravel()] = 1
    keys = np.unique(h)[:50]
    summaries = np.column_stack([np.arange(len(keys), dtype=np.float64), np.full(len(keys), 0.5)])
    vo_items = [int(v) for v in ints[:8]]

    return {
        "i": i,
        "th": _theta(ints),
        "th2": _theta(ints + n),
        "th_sub": thetaserde.serialize_compact_v3(sub.theta, sub.hashes),
        "hl": hllserde.serialize_hll8(regs, lg) if i not in (2, 3, 4) else _ref(REF_HLL[i - 2]),
        "cp": serialize_cpc(mat, 11) if i not in (2, 3, 4) else _ref(REF_CPC[i - 2]),
        "kl": serialize_kll(kl),
        "kl2": serialize_kll(kl2),
        "cq": serialize_classic(cq),
        "rq": serialize_req(rq),
        "td": serialize_tdigest(td),
        "fi": serialize_frequent_items(mg),
        "cm": serialize_countmin(cm, len(words), nh, nb, 9001),
        "bf": serialize_bloom(np.packbits(bits, bitorder="little"), 4, 9001),
        "aod": serialize_aod(-1, keys, summaries, 2),
        "vo": serialize_varopt(vo_items, [1.0 + j for j in range(len(vo_items))],
                               [True] * len(vo_items), len(vo_items), 16),
        "r": [0.1, 0.5, 0.9, 0.99, 0.25][i % 5],
        "x": float(np.round(xs[0], 3)) if n else 1.0,
        "s": [1, 2, 3, 2, 1][i % 5],
        "p": 0.05,
        "item": words.iloc[0] if len(words) else "zz",
        "splits": [80.0, 100.0, 120.0],
    }


BLOB_DDL = (
    "i int, th binary, th2 binary, th_sub binary, hl binary, cp binary, kl binary, "
    "kl2 binary, cq binary, rq binary, td binary, fi binary, cm binary, bf binary, "
    "aod binary, vo binary, r double, x double, s int, p double, item string, "
    "splits array<double>"
)


@pytest.fixture(scope="module")
def pin_blobs(spark):
    register_sketch_sql(spark)
    rows = [_blob_row(i, n) for i, n in enumerate(SIZES)]
    rows.append(dict(rows[0], i=len(rows)))  # the first row's blobs again
    cols = [c.split()[0] for c in BLOB_DDL.split(", ")]
    df = spark.createDataFrame(
        [tuple(bytearray(v) if isinstance(v, bytes) else v for v in (r[c] for c in cols)) for r in rows],
        BLOB_DDL,
    ).coalesce(1)
    df.createOrReplaceTempView("pin_blobs")
    return df


def _canon(v):
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v.hex()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def _hash(rows) -> str:
    text = "\n".join(sorted(repr(_canon(list(r))) for r in rows))
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def test_scalar_functions_pinned(spark, pin_blobs):
    calls = ", ".join(
        f"ds_{name}({', '.join(args)}) AS {name}" for name, args in SCALAR_CALLS.items()
    )
    rows = spark.sql(f"SELECT i, {calls} FROM pin_blobs").collect()
    assert len(rows) == len(SIZES) + 1
    assert _hash(rows) == SCALAR_PIN


def test_aggregates_pinned(spark, pin_blobs):
    """One input partition, so each group's rows reach the order-sensitive
    folds (KLL, t-digest) in the same order on every run."""
    spark.range(0, 1200, numPartitions=1).selectExpr(
        "id % 4 AS g",
        "CAST(id % 6 AS INT) AS i",
        "(id * 7919) % 100003 + 9007199254740000 AS l",
        "CONCAT('u', CAST((id * 31) % 257 AS STRING)) AS s",
        "((id * 7919) % 1009) / 10.0D AS d",
    ).createOrReplaceTempView("pin_values")
    calls = ", ".join(f"ds_{c} AS a{j}" for j, c in enumerate(AGG_CALLS))
    rows = spark.sql(
        f"SELECT /*+ BROADCAST(b) */ v.g, {calls} "
        "FROM pin_values v JOIN pin_blobs b ON v.i = b.i GROUP BY v.g"
    ).collect()
    assert len(rows) == 4
    assert _hash(rows) == AGG_PIN


@pytest.mark.parametrize("position", [0, 1, 2])
def test_null_in_any_argument_is_null(spark, pin_blobs, position):
    """Every scalar function with a NULL at this argument position gives
    NULL: no crash on ``int(s)`` of a NULL bound width, no answer for a
    NULL rank, no 0 for a NULL frequent-items or count-min blob."""
    types = dict(pin_blobs.dtypes)
    calls = {
        name: ", ".join(f"CAST(NULL AS {types[a]})" if j == position else a for j, a in enumerate(args))
        for name, args in SCALAR_CALLS.items()
        if len(args) > position
    }
    select = ", ".join(f"ds_{name}({a}) AS {name}" for name, a in calls.items())
    rows = spark.sql(f"SELECT {select} FROM pin_blobs").collect()
    got = {name: [r[name] for r in rows] for name in calls}
    assert got == {name: [None] * len(rows) for name in calls}


def test_nan_argument_is_a_value(spark, pin_blobs):
    """A NaN rank or item is queried, not read as NULL: the searches put a
    NaN item past every retained item, and a NaN rank, which is not in
    [0, 1], fails the query as any rank outside [0, 1] does."""
    with pytest.raises(PythonException, match="rank must be in"):
        spark.sql(
            "SELECT ds_kll_quantile(kl, CAST('NaN' AS DOUBLE)) AS q FROM pin_blobs WHERE i = 0"
        ).collect()
    row = spark.sql(
        "SELECT ds_kll_rank(kl, CAST('NaN' AS DOUBLE)) AS r, "
        "ds_classic_rank(cq, CAST('NaN' AS DOUBLE)) AS cr FROM pin_blobs WHERE i = 0"
    ).collect()[0]
    assert row.r == row.cr == 1.0
