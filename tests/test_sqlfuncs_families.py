"""SQL surface, remaining families: REQ / classic quantiles / frequent
items / count-min / bloom / tuple-AOD / var_opt / HLL bounds / KLL and
t-digest GROUP BY merges — all over reference-wire blobs, all callable
from ``spark.sql``. Reference parity targets named per test
(req_sketch.hpp, quantiles_sketch.hpp, frequent_items_sketch.hpp,
count_min.hpp, bloom_filter.hpp, array_of_doubles_sketch,
var_opt_sketch.hpp estimate_subset_sum)."""

import numpy as np
import pandas as pd
import pytest

from datasketches_cpp_spark.functions.classic_quantiles import (
    ClassicQuantilesSketch,
)
from datasketches_cpp_spark.functions.classicserde import serialize_classic
from datasketches_cpp_spark.functions.fiserde import serialize_frequent_items
from datasketches_cpp_spark.functions.freq import MGState
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
from datasketches_cpp_spark.sqlfuncs import register_sketch_sql


@pytest.fixture(scope="module")
def sql_spark(spark):
    register_sketch_sql(spark)
    return spark


def test_req_classic_sql_quantiles(sql_spark):
    """SQL quantile/rank over REQ and classic-quantiles blobs equal the
    local sketches' answers exactly (serde is lossless)."""
    xs = np.arange(1.0, 2001.0)
    req = ReqSketch(k=12)
    req.update_batch(xs)
    cla = ClassicQuantilesSketch(k=128)
    cla.update_batch(xs)
    df = sql_spark.createDataFrame(
        [(bytearray(serialize_req(req)), bytearray(serialize_classic(cla)))],
        "req binary, cla binary",
    )
    df.createOrReplaceTempView("rq_blobs")
    row = sql_spark.sql(
        """
        select ds_req_quantile(req, 0.99)     as req_q,
               ds_req_rank(req, 1500.0)       as req_r,
               ds_classic_quantile(cla, 0.5)  as cla_q,
               ds_classic_rank(cla, 1500.0)   as cla_r
        from rq_blobs
        """
    ).collect()[0]
    assert row.req_q == req.get_quantile(0.99)
    assert row.req_r == req.get_rank(1500.0)
    assert row.cla_q == cla.get_quantile(0.5)
    assert row.cla_r == cla.get_rank(1500.0)


def test_fi_sql_point_and_list(sql_spark):
    """frequent_items_sketch.hpp get_estimate (tracked item's stored
    over-estimate, 0 for untracked) and get_frequent_items ordering."""
    st = MGState(64)
    st.update_batch(pd.Series(["a"] * 7 + ["b"] * 4 + ["c"] * 2))
    blob = bytearray(serialize_frequent_items(st))
    sql_spark.createDataFrame([(blob,)], "fi binary").createOrReplaceTempView(
        "fi_blob"
    )
    row = sql_spark.sql(
        """
        select ds_fi_estimate(fi, 'a')  as est_a,
               ds_fi_estimate(fi, 'zz') as est_zz,
               ds_fi_items(fi)          as items
        from fi_blob
        """
    ).collect()[0]
    assert row.est_a == 7
    assert row.est_zz == 0
    got = [(r["item"], r["estimate"], r["lower_bound"]) for r in row.items]
    assert got == [("a", 7, 7), ("b", 4, 4), ("c", 2, 2)]  # m=64: no purges


def test_cm_sql_point_query(sql_spark):
    """count_min.hpp get_estimate: min over rows; exact when the matrix is
    collision-free at this load."""
    from datasketches_cpp_spark.functions.countmin import _row_hashes

    nh, nb, seed = 3, 256, 9001
    items = pd.Series(["x"] * 7 + ["y"] * 2)
    idx = _row_hashes(items, "str", nh, nb, seed)
    matrix = np.zeros((nh, nb), np.uint64)
    for r in range(nh):
        np.add.at(matrix[r], idx[:, r], 1)
    blob = bytearray(serialize_countmin(matrix, len(items), nh, nb, seed))
    sql_spark.createDataFrame([(blob,)], "cm binary").createOrReplaceTempView(
        "cm_blob"
    )
    row = sql_spark.sql(
        "select ds_cm_estimate(cm, 'x') ex, ds_cm_estimate(cm, 'y') ey "
        "from cm_blob"
    ).collect()[0]
    assert row.ex == 7
    assert row.ey == 2


def test_bloom_sql_membership(sql_spark):
    """bloom_filter.hpp query through SQL: no false negatives on inserted
    items; the fixed-seed absent probe reads clean at this density."""
    from datasketches_cpp_spark.functions.bloom import _bit_positions

    num_bits, nh, seed = 512, 5, 9001
    pos = _bit_positions(pd.Series(["m", "n"]), "str", num_bits, nh, seed)
    unpacked = np.zeros(num_bits, np.uint8)
    unpacked[pos.ravel()] = 1
    bits = np.packbits(unpacked, bitorder="little")
    blob = bytearray(serialize_bloom(bits, nh, seed))
    sql_spark.createDataFrame([(blob,)], "bf binary").createOrReplaceTempView(
        "bf_blob"
    )
    row = sql_spark.sql(
        """
        select ds_bloom_might_contain(bf, 'm')  as has_m,
               ds_bloom_might_contain(bf, 'n')  as has_n,
               ds_bloom_might_contain(bf, 'zz') as has_zz
        from bf_blob
        """
    ).collect()[0]
    assert row.has_m and row.has_n
    assert not row.has_zz


def test_aod_sql_estimate_and_sums(sql_spark):
    """Exact-mode AOD blob: key estimate = retained count, column sums =
    true sums (array_of_doubles_sketch get_estimate + column totals)."""
    keys = np.arange(1, 6, dtype=np.int64)
    summaries = np.column_stack(
        [np.arange(1.0, 6.0), np.full(5, 2.0)]
    )
    blob = bytearray(serialize_aod(-1, keys, summaries, 2))
    sql_spark.createDataFrame([(blob,)], "aod binary").createOrReplaceTempView(
        "aod_blob"
    )
    row = sql_spark.sql(
        "select ds_aod_key_estimate(aod) est, ds_aod_column_sums(aod) sums "
        "from aod_blob"
    ).collect()[0]
    assert row.est == 5.0
    assert row.sums == [15.0, 10.0]


def test_varopt_sql_subset_sum(sql_spark):
    """var_opt_sketch.hpp estimate_subset_sum(pred) == explode + WHERE +
    SUM(weight) in SQL; exact-mode sketch makes it exact."""
    blob = bytearray(
        serialize_varopt([10, 20, 30], [5.0, 3.0, 2.0], [True] * 3, 3, 8)
    )
    sql_spark.createDataFrame([(blob,)], "vo binary").createOrReplaceTempView(
        "vo_blob"
    )
    total = sql_spark.sql(
        """
        select sum(s.weight) as w
        from (select explode(ds_varopt_items(vo)) as s from vo_blob)
        where s.item >= 20
        """
    ).collect()[0]["w"]
    assert total == 5.0


def test_hll_sql_bounds_bracket_estimate(sql_spark, sf_dir):
    """hll.hpp get_lower_bound/get_upper_bound: lb <= est <= ub and the
    bracket covers the exact count at 3 standard deviations."""
    from datasketches_cpp_spark.functions.hll import hll_sketch_agg
    from datasketches_cpp_spark.functions.hllserde import with_hll_bytes

    li = sql_spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sk = hll_sketch_agg(li, [], "l_orderkey", lg_k=12, keep_registers=True)
    with_hll_bytes(sk.select("regs"), 12).createOrReplaceTempView("hllb")
    row = sql_spark.sql(
        """
        select ds_hll_estimate(sketch_bytes)        as est,
               ds_hll_lower_bound(sketch_bytes, 3)  as lb,
               ds_hll_upper_bound(sketch_bytes, 3)  as ub
        from hllb
        """
    ).collect()[0]
    exact = li.select("l_orderkey").distinct().count()
    assert row.lb <= row.est <= row.ub
    assert row.lb <= exact <= row.ub


def test_kll_tdigest_sql_group_merge(sql_spark):
    """GROUP BY ds_kll_merge / ds_tdigest_merge (kll_sketch.hpp merge,
    tdigest.hpp merge). The KLL halves stay in exact mode (160 items <
    k=200, no compaction), so the merged quantile is the exact order
    statistic regardless of which blob the group reducer sees first."""
    lo, hi = np.arange(0.0, 80.0), np.arange(80.0, 160.0)
    k1, k2 = KllSketch(k=200), KllSketch(k=200)
    k1.update_batch(lo)
    k2.update_batch(hi)
    t1, t2 = TDigest(delta=100), TDigest(delta=100)
    t1.update_batch(np.arange(0.0, 1000.0))
    t2.update_batch(np.arange(1000.0, 2000.0))

    rows = [
        (1, bytearray(serialize_kll(k1)), bytearray(serialize_tdigest(t1))),
        (1, bytearray(serialize_kll(k2)), bytearray(serialize_tdigest(t2))),
    ]
    sql_spark.createDataFrame(
        rows, "g int, kll binary, td binary"
    ).createOrReplaceTempView("merge_blobs")
    row = sql_spark.sql(
        """
        select ds_kll_quantile(ds_kll_merge(kll), 0.5)        as kll_med,
               ds_kll_rank(ds_kll_merge(kll), 120.0)          as kll_r,
               ds_tdigest_quantile(ds_tdigest_merge(td), 0.5) as td_med
        from merge_blobs group by g
        """
    ).collect()[0]

    k_local = KllSketch(k=200)
    k_local.update_batch(lo)
    k2b = KllSketch(k=200)
    k2b.update_batch(hi)
    k_local.merge(k2b)
    assert row.kll_med == k_local.get_quantile(0.5)
    assert row.kll_r == k_local.get_rank(120.0)
    assert row.td_med == pytest.approx(1000.0, abs=60.0)


def test_kll_ks_sql(sql_spark):
    """kolmogorov_smirnov.hpp through SQL: disjoint epochs reject at
    p=0.05, identical epochs accept; the delta equals the local twin's."""
    from datasketches_cpp_spark.functions.quantiles import ks_delta

    a, b = KllSketch(k=200), KllSketch(k=200)
    a.update_batch(np.arange(0.0, 500.0))
    b.update_batch(np.arange(5000.0, 5500.0))
    blob_a, blob_b = bytearray(serialize_kll(a)), bytearray(serialize_kll(b))
    sql_spark.createDataFrame(
        [(blob_a, blob_b)], "a binary, b binary"
    ).createOrReplaceTempView("ks_blobs")
    row = sql_spark.sql(
        """
        select ds_kll_ks_delta(a, b)      as delta,
               ds_kll_ks_test(a, b, 0.05) as rejects,
               ds_kll_ks_test(a, a, 0.05) as self_rejects
        from ks_blobs
        """
    ).collect()[0]
    assert row.delta == ks_delta(a, b)
    assert row.rejects is True
    assert row.self_rejects is False


def test_kll_classic_pmf_cdf_sql(sql_spark):
    """GET_PMF/GET_CDF surface (kll_sketch.hpp:316-393; the reference's
    Hive/Druid UDF shape): len(splits)+1 results, PMF sums to 1, values
    equal the local kernel twin's."""
    from datasketches_cpp_spark.functions.classic_quantiles import (
        ClassicQuantilesSketch,
    )
    from datasketches_cpp_spark.functions.classicserde import serialize_classic

    data = np.arange(0.0, 1000.0)
    kl = KllSketch(k=200)
    kl.update_batch(data)
    cq = ClassicQuantilesSketch(k=128)
    cq.update_batch(data)
    splits = [100.0, 500.0, 900.0]
    sql_spark.createDataFrame(
        [(bytearray(serialize_kll(kl)), bytearray(serialize_classic(cq)))],
        "kb binary, cb binary",
    ).createOrReplaceTempView("pmf_blobs")
    row = sql_spark.sql(
        """
        select ds_kll_pmf(kb, array(100.0D, 500.0D, 900.0D))     as kpmf,
               ds_kll_cdf(kb, array(100.0D, 500.0D, 900.0D))     as kcdf,
               ds_classic_pmf(cb, array(100.0D, 500.0D, 900.0D)) as cpmf,
               ds_classic_cdf(cb, array(100.0D, 500.0D, 900.0D)) as ccdf
        from pmf_blobs
        """
    ).collect()[0]
    assert row.kpmf == kl.get_pmf(np.array(splits)).tolist()
    assert row.kcdf == kl.get_cdf(np.array(splits)).tolist()
    assert row.cpmf == cq.get_pmf(np.array(splits)).tolist()
    assert row.ccdf == cq.get_cdf(np.array(splits)).tolist()
    for pmf, cdf in ((row.kpmf, row.kcdf), (row.cpmf, row.ccdf)):
        assert len(pmf) == len(splits) + 1 and len(cdf) == len(splits) + 1
        assert abs(sum(pmf) - 1.0) < 1e-12
        assert cdf[-1] == 1.0


BIG = 2**53
D2S_CASES = {
    # 40 users split across two groups (one with NULLs), 20 shared
    "small": [(1, v) for v in range(40)] + [(2, v) for v in range(20, 60)] + [(2, None)] * 2,
    # 2^53 + 1 and 2^53 are one value once widened to float64
    "big": [(1, BIG + 1), (1, None), (2, BIG)],
}


@pytest.mark.parametrize(
    "family,case",
    [("theta", "small"), ("theta", "big"), ("hll", "big"), ("cpc", "big")],
    ids=["theta", "theta_big", "hll_big", "cpc_big"],
)
def test_theta_data2sketch_nullable_bigint_groups_union_exactly(sql_spark, family, case):
    """A BIGINT group holding a NULL must hash its values exactly like the
    null-free groups of the same column: else a union of the groups'
    sketches double-counts, or (above 2^53, where float64 rounds) merges
    distinct values. The union of the per-group blobs must equal one blob
    over all non-null values, and in theta's exact mode COUNT(DISTINCT)."""
    rows = D2S_CASES[case]
    sql_spark.createDataFrame(rows, "g int, user_id long").createOrReplaceTempView(
        "t_nullable_ints"
    )
    union = sql_spark.sql(
        f"SELECT ds_{family}_estimate(ds_{family}_union(sk)) AS e FROM "
        f"(SELECT ds_{family}_data2sketch(user_id) AS sk FROM t_nullable_ints GROUP BY g)"
    ).collect()[0]["e"]
    whole = sql_spark.sql(
        f"SELECT ds_{family}_estimate(ds_{family}_data2sketch(user_id)) AS e "
        "FROM t_nullable_ints WHERE user_id IS NOT NULL"
    ).collect()[0]["e"]
    assert union == whole
    if family == "theta":
        assert union == len({v for _, v in rows if v is not None})
