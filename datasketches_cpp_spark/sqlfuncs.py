"""SQL surface: sketch functions callable from ``spark.sql``.

The reference library's users mostly consume sketches from a SQL engine
(the Apache DataSketches Hive/Druid/PostgreSQL integrations expose
``theta_sketch_union``, ``hll_sketch_get_estimate``-style functions over
binary sketch columns). This module gives the Spark engine that same
entry point over REFERENCE-WIRE blobs: every function below takes or
returns the byte layouts the serde modules read/write (theta v1-v4, HLL
LIST/SET/HLL_4/6/8, CPC family 16, KLL doubles, classic quantiles, REQ,
t-digest, frequent items, count-min, bloom, tuple AOD, var_opt), so a
table of ``.sk`` blobs written by any Java/C++ DataSketches deployment
can be queried from Spark SQL directly, and blobs this engine writes can
go the other way. Reference API parity: theta_sketch.hpp get_estimate /
get_lower_bound / get_upper_bound, theta set ops (theta_union.hpp,
theta_intersection.hpp, theta_a_not_b.hpp), hll.hpp get_estimate /
get_lower_bound / get_upper_bound, cpc_sketch.hpp get_estimate,
kll_sketch.hpp / quantiles_sketch.hpp / req_sketch.hpp / tdigest.hpp
get_quantile + get_rank (and KLL/t-digest GROUP BY merges),
frequent_items_sketch.hpp get_estimate + get_frequent_items,
count_min.hpp get_estimate, bloom_filter.hpp query,
array_of_doubles_sketch get_estimate + column sums, var_opt_sketch.hpp
get_samples (explode + WHERE + SUM(weight) in SQL is the reference's
``estimate_subset_sum(predicate)``).

Count-min and bloom point queries carry the hash-placement caveat
documented in functions/samplingserde.py: bit/bucket PLACEMENT is
implementation-defined in the reference itself (C++ stdlib RNG row
seeds), so membership/frequency queries are exact against blobs this
engine wrote, while foreign blobs round-trip value-faithfully but answer
under this engine's hash family.

Design notes, 100 TB hat on:

* Every function is one entry of ``SQL_FUNCTIONS``: its return type, the
  decoder of its family's blobs, and a per-row query (scalar) or a fold
  over a group (aggregate). Two wrappers turn entries into ``arrow_udf``s
  — per-batch Python over Arrow arrays, never per-row Spark-side, and
  never through pandas, so a BIGINT above 2^53 and a NaN beside a NULL
  reach the query as they are.
* The NULL rule: a row with a NULL in any argument of a scalar function
  gives NULL; an aggregate folds its group's non-null values. A NaN is a
  value, not a NULL; a NaN answer (a quantile of an empty sketch) reads
  as NULL.
* The rank rule of ``<prefix>kll_quantile``, ``classic_quantile``,
  ``req_quantile`` and ``tdigest_quantile``: a rank is a number in
  [0, 1], as in the reference, and any other rank, NaN included, fails
  the query (``ValueError``). Rank 0 and rank 1 give the smallest and
  largest retained item; REQ and t-digest give their exact min and max.
  The first three search the shared ``quantiles.SortedView``.
* A scalar function decodes each distinct blob once per Arrow batch and
  shares the decoded sketch between the batch's rows, so no query may
  change the sketch it is handed.
* The scalar functions (estimate/bounds/quantile/set-op-of-two-blobs)
  stream; they add no shuffle and compose with any SQL plan.
* The aggregates (``<prefix>theta_union`` and the other unions/merges,
  ``<prefix>*_data2sketch``) are grouped-aggregate ``arrow_udf``s, so SQL
  users can ``GROUP BY`` over blob columns. Spark's grouped-agg Python
  UDFs have NO map-side partial aggregation — every row ships to its
  group's reducer. That is the right trade for union-of-sketches (the
  rows ARE tiny sketches; this is exactly what a sketch-carrying shuffle
  moves), but building sketches FROM RAW VALUES at scale should use the
  two-stage Python API (functions.theta.theta_sketch_agg et al.), which
  does partial-before-exchange — asserted in tests/test_plans.py. The
  data2sketch aggregates are the reference's DataToSketch UDAF surface,
  the convenience/compat path; the reference's Hive UDAFs make the same
  trade.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import kmv
from .functions import hllserde, thetaserde
from .functions.bloom import _bit_positions
from .functions.classicserde import deserialize_classic
from .functions.countmin import _row_hashes
from .functions.cpc import (
    _HIP_HIGH_SIDE,
    _HIP_LOW_SIDE,
    _fold_matrix,
    _hip_rel,
    fold_matrix_k,
    icon_bounds,
    invert_coupons,
)
from .functions.cpcserde import deserialize_cpc, serialize_cpc
from .functions.fiserde import deserialize_frequent_items
from .functions.hll import (
    _composite_estimate,
    _rho,
    coupon_bounds,
    coupon_estimate,
    fold_registers,
    get_rel_err,
)
from .functions.kllserde import deserialize_kll, serialize_kll
from .functions.quantiles import KllSketch, ks_delta, ks_test
from .functions.reqserde import deserialize_req
from .functions.samplingserde import (
    deserialize_bloom,
    deserialize_countmin,
    deserialize_varopt,
)
from .functions.tdigest import TDigest
from .functions.tdigestserde import deserialize_tdigest, serialize_tdigest
from .functions.tupleserde import deserialize_aod
from .hashing import hash63_int64, hash63_str_many

_DOUBLE, _LONG, _BOOL, _BINARY = DoubleType(), LongType(), BooleanType(), BinaryType()
_DOUBLES = ArrayType(DoubleType())


def _scalar(ret, decode, query):
    """A scalar function: ``query`` per row over the arguments, with every
    binary argument decoded by ``decode`` once per distinct blob per
    batch; NULL wherever an argument is NULL."""
    arrow_type = to_arrow_type(ret)

    def fn(*cols: pa.Array) -> pa.Array:
        memo: dict = {}

        def arg(v):
            if isinstance(v, bytes):
                if v not in memo:
                    memo[v] = decode(v)
                return memo[v]
            return v

        out = [
            None if None in row else query(*map(arg, row))
            for row in zip(*(c.to_pylist() for c in cols))
        ]
        # from_pandas: a NaN answer is NULL, as Spark's pandas UDFs gave it
        return pa.array(out, type=arrow_type, from_pandas=True)

    return arrow_udf(fn, ret)


def _aggregate(decode, fold):
    """A grouped aggregate returning one blob: ``fold`` over the group's
    non-null values, decoded by ``decode`` when given, else as one Arrow
    array."""

    def fn(values: pa.Array) -> bytes:
        values = values.drop_null()
        return fold([decode(v) for v in values.to_pylist()] if decode else values)

    return arrow_udf(fn, _BINARY)


# -- decoders and queries, family by family ---------------------------------


def _theta_sk(b: bytes) -> kmv.ThetaSketch:
    theta, hashes = thetaserde.deserialize_compact(b)
    # serde encodes exact mode as theta == -1; ThetaSketch uses MAX_THETA
    return kmv.ThetaSketch(1 << 16, kmv.MAX_THETA if theta < 0 else theta, hashes)


def _theta_blob(sk: kmv.ThetaSketch) -> bytes:
    return thetaserde.serialize_compact_v3(sk.theta, sk.hashes)


def _theta_union(sks) -> bytes:
    if not sks:
        return _theta_blob(kmv.ThetaSketch(1 << 16, kmv.MAX_THETA))
    return _theta_blob(kmv.union(sks))


def _hll(b: bytes):
    """(coupon count, HIP estimate, registers) of any reference HLL mode;
    a LIST/SET blob answers from its coupon count alone."""
    cc = hllserde.coupon_count(b)
    if cc is not None:
        return cc, None, None
    return None, hllserde.hip_estimate(b), hllserde.deserialize_hll(b)[1]


def _hll_estimate(h) -> float:
    cc, hip, regs = h
    if cc is not None:
        return coupon_estimate(cc)
    # a stream-written blob keeps its HIP estimate, which the reference returns
    return hip if hip is not None else _composite_estimate(regs)


def _hll_bound(h, num_std, lower: bool) -> float:
    """hll.hpp get_lower_bound/get_upper_bound."""
    cc, hip, regs = h
    if cc is not None:  # LIST/SET blob: coupon-mode bound law
        return coupon_bounds(cc, int(num_std))[0 if lower else 1]
    lg_k = len(regs).bit_length() - 1
    # a stored HIP accumulator marks a never-merged stream (the writer
    # leaves hip only when the OOO flag is clear)
    rel = get_rel_err(not lower, hip is None, lg_k, int(num_std))
    bound = _hll_estimate(h) / (1.0 + rel)
    # LB >= numNonZeros (HllArray-internal.hpp:344-350)
    return max(bound, float(np.count_nonzero(regs))) if lower else bound


def _hll_union(parsed) -> bytes:
    """Mixed lg_k folds to the smallest (the reference union's
    copy_or_downsample)."""
    if not parsed:
        return hllserde.serialize_hll8(np.zeros(1 << 12, np.uint8), 12)
    lg_min = min(lg for lg, _ in parsed)
    acc = np.zeros(1 << lg_min, np.uint8)
    for lg, regs in parsed:
        np.maximum(acc, fold_registers(regs, lg - lg_min) if lg > lg_min else regs, out=acc)
    return hllserde.serialize_hll8(acc, lg_min)


def _cpc_estimate(d) -> float:
    if d["has_hip"]:
        return float(d["hip_est_accum"])
    # merged blob: ICON twin (E[C] inversion), like the reference
    return invert_coupons(int(d["num_coupons"]), int(d["lg_k"]))


def _cpc_bound(d, kappa, lower: bool) -> float:
    """cpc_confidence.hpp get_lower_bound/get_upper_bound."""
    c, lg, kappa = int(d["num_coupons"]), int(d["lg_k"]), int(kappa)
    if not 1 <= kappa <= 3:
        # the ICON branch validates inside icon_bounds; the HIP side
        # tables would raise a raw IndexError instead
        raise ValueError(f"kappa must be between 1 and 3, got {kappa}")
    if c == 0:
        return 0.0
    if d["has_hip"]:
        # stream-written blob: HIP kappa law (the reference uses the HIP
        # interval whenever HIP registers are valid)
        est = float(d["hip_est_accum"])
        if lower:
            return max(est / (1.0 + kappa * _hip_rel(lg, kappa, _HIP_HIGH_SIDE)), float(c))
        return float(np.ceil(est / (1.0 - kappa * _hip_rel(lg, kappa, _HIP_LOW_SIDE))))
    return icon_bounds(c, lg, kappa)[0 if lower else 1]


def _cpc_union(parsed) -> bytes:
    """Mixed lg_k folds to the smallest (the reference union's reduce_k);
    a merged stream keeps no HIP registers."""
    if not parsed:
        return serialize_cpc(np.zeros(1 << 11, np.uint64), 11)
    lg_min = min(d["lg_k"] for d in parsed)
    acc = np.zeros(1 << lg_min, np.uint64)
    for d in parsed:
        m = d["matrix"]
        np.bitwise_or(acc, fold_matrix_k(m, d["lg_k"] - lg_min) if d["lg_k"] > lg_min else m, out=acc)
    return serialize_cpc(acc, lg_min)


def _merge(sketches, empty):
    """kll_sketch.hpp / tdigest.hpp merge, in row order (mixed k folds by
    the sketch classes' merge rules); ``empty()`` for an empty group."""
    if not sketches:
        return empty()
    acc = sketches[0]
    for sk in sketches[1:]:
        acc.merge(sk)
    return acc


def _hash_values(vals: pa.Array) -> np.ndarray:
    """63-bit hashes of a group's non-null values. Integers hash as int64,
    exactly. A DOUBLE follows the reference's update(double)
    canonicalization (theta_update_sketch_base.hpp canonical_double): an
    integral double hashes as the equal int64, so 3.0 and BIGINT 3 land
    on the same hash, and any other double hashes its 8-byte pattern; NaN
    is skipped. Anything else hashes its text; empty strings are no-ops,
    same as theta._hash_series."""
    if pa.types.is_integer(vals.type):
        return hash63_int64(vals.to_numpy().astype(np.int64))
    if pa.types.is_floating(vals.type):
        v = vals.to_numpy().astype(np.float64)
        v = v[~np.isnan(v)]
        integral = (v == np.floor(v)) & (np.abs(v) < 2**63)
        out = np.empty(len(v), np.uint64)
        out[integral] = hash63_int64(v[integral].astype(np.int64))
        out[~integral] = hash63_int64(v[~integral].view(np.int64))
        return out
    return hash63_str_many([s for s in map(str, vals.to_pylist()) if s != ""])


def _theta_data2sketch(vals: pa.Array) -> bytes:
    return _theta_blob(kmv.from_hashes(_hash_values(vals), 1 << kmv.DEFAULT_LG_K))


def _hll_data2sketch(vals: pa.Array) -> bytes:
    lg_k = 12
    h = _hash_values(vals)
    regs = np.zeros(1 << lg_k, np.uint8)
    np.maximum.at(regs, (h & np.uint64((1 << lg_k) - 1)).astype(np.int64), _rho(h, lg_k))
    return hllserde.serialize_hll8(regs, lg_k)


def _cpc_data2sketch(vals: pa.Array) -> bytes:
    lg_k = 11
    mat = np.zeros(1 << lg_k, np.uint64)
    _fold_matrix(mat, _hash_values(vals), lg_k)
    return serialize_cpc(mat, lg_k)


def _kll_data2sketch(vals: pa.Array) -> bytes:
    # values that are not numbers (nor numeric text) are dropped, NaN too
    arr = pd.to_numeric(vals.to_pandas(), errors="coerce").dropna().to_numpy(np.float64)
    sk = KllSketch(200)
    if len(arr):
        sk.update_batch(arr)
    return serialize_kll(sk)


def _fi_items(st) -> list[dict]:
    """frequent_items_sketch.hpp get_frequent_items, largest first."""
    rows = (
        {"item": str(k), "estimate": int(v), "lower_bound": int(v) - st.offset, "upper_bound": int(v)}
        for k, v in st.counts.items()
    )
    return sorted(rows, key=lambda r: (-r["estimate"], r["item"]))


def _cm_estimate(d, item) -> int:
    """count_min.hpp get_estimate: the minimum over rows."""
    idx = _row_hashes(pd.Series([str(item)]), "str", d["num_hashes"], d["num_buckets"], 9001)[0]
    return int(d["matrix"][np.arange(d["num_hashes"]), idx].min())


def _bloom(b: bytes) -> dict:
    d = deserialize_bloom(b)
    d["unpacked"] = np.unpackbits(d["bits"], bitorder="little")
    return d


def _bloom_query(d, item) -> bool:
    """bloom_filter.hpp query."""
    bits = d["unpacked"]
    pos = _bit_positions(pd.Series([str(item)]), "str", len(bits), d["num_hashes"], d["seed"])[0]
    return bool(bits[pos].all())


def _aod_estimate(aod) -> float:
    theta, keys, _, _ = aod
    return kmv.estimate(kmv.MAX_THETA if theta < 0 else theta, len(keys))


def _aod_column_sums(aod) -> list[float]:
    theta, _, vals, _ = aod
    frac = 1.0 if theta < 0 else theta / kmv.MAX_THETA
    return [float(x) for x in vals.sum(axis=0) / frac]


_FI_ROWS = ArrayType(StructType([
    StructField("item", StringType()),
    StructField("estimate", LongType()),
    StructField("lower_bound", LongType()),
    StructField("upper_bound", LongType()),
]))
_VAROPT_ROWS = ArrayType(StructType([
    StructField("item", LongType()),
    StructField("weight", DoubleType()),
]))

_fi = functools.partial(deserialize_frequent_items, item_type="str")
_varopt = functools.partial(deserialize_varopt, item_dtype="int64")

# name -> arrow_udf of (return type, blob decoder, per-row query or fold);
# registered in this order
SQL_FUNCTIONS = {
    # -- theta (blob = compact theta sketch, any serial version v1-v4) --------
    "theta_estimate": _scalar(_DOUBLE, _theta_sk, lambda sk: sk.get_estimate()),
    "theta_lower_bound": _scalar(_DOUBLE, _theta_sk, lambda sk, s: sk.get_bounds(int(s))[0]),
    "theta_upper_bound": _scalar(_DOUBLE, _theta_sk, lambda sk, s: sk.get_bounds(int(s))[1]),
    "theta_union_pair": _scalar(_BINARY, _theta_sk, lambda a, b: _theta_blob(kmv.union([a, b]))),
    "theta_intersection": _scalar(_BINARY, _theta_sk, lambda a, b: _theta_blob(kmv.intersection(a, b))),
    "theta_a_not_b": _scalar(_BINARY, _theta_sk, lambda a, b: _theta_blob(kmv.a_not_b(a, b))),
    "theta_jaccard": _scalar(_DOUBLE, _theta_sk, lambda a, b: kmv.jaccard(a, b)[1]),
    # |B|/|A| for B a theta-subset of A (reference
    # bounds_on_ratios_in_theta_sketched_sets): (lb, estimate, ub)
    "theta_ratio": _scalar(_DOUBLE, _theta_sk, lambda a, b: kmv.ratio_b_over_a(a, b)[1]),
    "theta_ratio_lower_bound": _scalar(_DOUBLE, _theta_sk, lambda a, b: kmv.ratio_b_over_a(a, b)[0]),
    "theta_ratio_upper_bound": _scalar(_DOUBLE, _theta_sk, lambda a, b: kmv.ratio_b_over_a(a, b)[2]),
    # SELECT g, ds_theta_union(blob) FROM t GROUP BY g
    "theta_union": _aggregate(_theta_sk, _theta_union),
    # -- data2sketch: build FROM RAW VALUES in SQL ----------------------------
    "theta_data2sketch": _aggregate(None, _theta_data2sketch),
    "hll_data2sketch": _aggregate(None, _hll_data2sketch),
    "cpc_data2sketch": _aggregate(None, _cpc_data2sketch),
    "kll_data2sketch": _aggregate(None, _kll_data2sketch),
    # -- HLL (blob = any reference HLL mode: LIST/SET coupons, HLL_4/6/8) -----
    "hll_estimate": _scalar(_DOUBLE, _hll, _hll_estimate),
    "hll_lower_bound": _scalar(_DOUBLE, _hll, lambda h, s: _hll_bound(h, s, True)),
    "hll_upper_bound": _scalar(_DOUBLE, _hll, lambda h, s: _hll_bound(h, s, False)),
    "hll_union": _aggregate(hllserde.deserialize_hll, _hll_union),
    # -- CPC (blob = family-16 compressed sketch) -----------------------------
    "cpc_estimate": _scalar(_DOUBLE, deserialize_cpc, _cpc_estimate),
    "cpc_lower_bound": _scalar(_DOUBLE, deserialize_cpc, lambda d, k: _cpc_bound(d, k, True)),
    "cpc_upper_bound": _scalar(_DOUBLE, deserialize_cpc, lambda d, k: _cpc_bound(d, k, False)),
    "cpc_union": _aggregate(deserialize_cpc, _cpc_union),
    # -- KLL doubles (blob = family-15 v1/v2) ---------------------------------
    "kll_quantile": _scalar(_DOUBLE, deserialize_kll, lambda sk, r: sk.get_quantile(float(r))),
    "kll_rank": _scalar(_DOUBLE, deserialize_kll, lambda sk, x: sk.get_rank(float(x))),
    # kll_sketch.hpp:316-393 get_PMF/get_CDF (the reference's Hive/Druid
    # GET_PMF/GET_CDF): increasing splits, len(splits)+1 masses/ranks
    "kll_pmf": _scalar(_DOUBLES, deserialize_kll, lambda sk, s: sk.get_pmf(np.asarray(s, np.float64)).tolist()),
    "kll_cdf": _scalar(_DOUBLES, deserialize_kll, lambda sk, s: sk.get_cdf(np.asarray(s, np.float64)).tolist()),
    "kll_merge": _aggregate(deserialize_kll, lambda sks: serialize_kll(_merge(sks, lambda: KllSketch(200)))),
    # KS test over two KLL blobs (kolmogorov_smirnov.hpp:28-66)
    "kll_ks_delta": _scalar(_DOUBLE, deserialize_kll, ks_delta),
    "kll_ks_test": _scalar(_BOOL, deserialize_kll, lambda a, b, p: ks_test(a, b, float(p))),
    # -- t-digest (blob = sketch type 20, incl. big-endian compat reads) ------
    "tdigest_quantile": _scalar(_DOUBLE, deserialize_tdigest, lambda td, r: td.get_quantile(float(r))),
    "tdigest_rank": _scalar(_DOUBLE, deserialize_tdigest, lambda td, v: td.get_rank(float(v))),
    "tdigest_merge": _aggregate(deserialize_tdigest, lambda tds: serialize_tdigest(_merge(tds, lambda: TDigest(100)))),
    # -- REQ (family 17; req_sketch.hpp get_quantile/get_rank, rank bounds
    #    req_sketch_impl.hpp:285-330) ----------------------------------------
    "req_quantile": _scalar(_DOUBLE, deserialize_req, lambda sk, r: sk.get_quantile(float(r))),
    "req_rank": _scalar(_DOUBLE, deserialize_req, lambda sk, v: sk.get_rank(float(v))),
    "req_rank_lower_bound": _scalar(
        _DOUBLE, deserialize_req, lambda sk, r, s: sk.get_rank_lower_bound(float(r), int(s))),
    "req_rank_upper_bound": _scalar(
        _DOUBLE, deserialize_req, lambda sk, r, s: sk.get_rank_upper_bound(float(r), int(s))),
    # -- classic quantiles (family 8; quantiles_sketch.hpp) -------------------
    "classic_quantile": _scalar(_DOUBLE, deserialize_classic, lambda sk, r: sk.get_quantile(float(r))),
    "classic_rank": _scalar(_DOUBLE, deserialize_classic, lambda sk, v: sk.get_rank(float(v))),
    "classic_pmf": _scalar(
        _DOUBLES, deserialize_classic, lambda sk, s: sk.get_pmf(np.asarray(s, np.float64)).tolist()),
    "classic_cdf": _scalar(
        _DOUBLES, deserialize_classic, lambda sk, s: sk.get_cdf(np.asarray(s, np.float64)).tolist()),
    # -- frequent items (family 10, string items): the stored over-estimate
    #    of a tracked item, else 0 -------------------------------------------
    "fi_estimate": _scalar(_LONG, _fi, lambda st, item: int(st.counts.get(str(item), 0))),
    "fi_items": _scalar(_FI_ROWS, _fi, _fi_items),
    # -- count-min point query (family 18, string items) ----------------------
    "cm_estimate": _scalar(_LONG, deserialize_countmin, _cm_estimate),
    # -- bloom membership (family 21, string items) ---------------------------
    "bloom_might_contain": _scalar(_BOOL, _bloom, _bloom_query),
    # -- tuple AOD (family 9 type 3; array_of_doubles_sketch get_estimate +
    #    per-column population sums) -----------------------------------------
    "aod_key_estimate": _scalar(_DOUBLE, deserialize_aod, _aod_estimate),
    "aod_column_sums": _scalar(_DOUBLES, deserialize_aod, _aod_column_sums),
    # -- var_opt samples (family 13, int64 items; var_opt_sketch.hpp
    #    get_samples — explode + WHERE + SUM(weight) in SQL gives the
    #    reference's estimate_subset_sum(predicate)) ---------------------------
    "varopt_items": _scalar(
        _VAROPT_ROWS, _varopt,
        lambda d: [{"item": int(i), "weight": float(w)} for i, w in zip(d["items"], d["weights"])]),
}


def register_sketch_sql(spark, prefix: str = "ds_") -> list[str]:
    """Register the sketch SQL functions on ``spark``; returns the list of
    registered names. Idempotent (re-registration replaces)."""
    for name, fn in SQL_FUNCTIONS.items():
        spark.udf.register(prefix + name, fn)
    return [prefix + name for name in SQL_FUNCTIONS]
