"""Sketch-family tests mirroring the reference's per-operator test strategy
(SURVEY.md §5): exact-mode oracles, estimation-mode statistical margins,
merge laws, and the published error guarantees.

Families: KLL quantiles (+KS), Misra-Gries frequent items, count-min,
bloom filter, var_opt sampling, tuple sketch, HLL wrapper.
"""

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from datasketches_cpp_spark.functions.bloom import (
    bloom_filter_agg,
    bloom_prefilter_join,
    might_contain,
    suggest_num_bits,
    suggest_num_hashes_from,
)
from datasketches_cpp_spark.functions.countmin import (
    count_min_agg,
    estimate_frequencies,
    suggest_num_buckets,
    suggest_num_hashes,
)
from datasketches_cpp_spark.functions.freq import (
    NO_FALSE_NEGATIVES,
    NO_FALSE_POSITIVES,
    MGState,
    frequent_items_agg,
    get_frequent_items,
)
from datasketches_cpp_spark.functions.hll import hll_distinct_agg, rse
from datasketches_cpp_spark.functions.quantiles import (
    KllSketch,
    kll_sketch_agg,
    ks_delta,
    ks_test,
    with_quantiles,
)
from datasketches_cpp_spark.functions.sampling import (
    estimate_subset_sum,
    var_opt_agg,
)
from datasketches_cpp_spark.functions.tuplesketch import (
    filtered_key_estimate,
    tuple_sketch_agg,
    with_key_estimate,
    with_summary_sum_estimate,
)


# ---------------------------------------------------------------------------
# KLL (kernel)
# ---------------------------------------------------------------------------


def test_kll_exact_below_capacity():
    """Until the first compaction the sketch IS the data (theta exact-mode
    analog, kll level-0 buffer)."""
    sk = KllSketch(k=200)
    data = np.arange(100, dtype=np.float64)
    sk.update_batch(data)
    assert not sk.is_estimation_mode()
    for q in (0.0, 0.25, 0.5, 0.9):
        assert sk.get_quantile(q) == pytest.approx(np.quantile(data, q, method="inverted_cdf"), abs=1.0)
    assert sk.get_rank(50.0) == pytest.approx(51 / 100, abs=1e-9)
    assert sk.min_item == 0.0 and sk.max_item == 99.0 and sk.n == 100


def test_kll_estimation_rank_error():
    """n=100k uniform: rank error within the published envelope
    (reference kll_sketch_test asserts ±RANK_EPS_FOR_K_200 = 0.0133)."""
    rng = np.random.default_rng(1)
    data = rng.random(100_000)
    sk = KllSketch(k=200)
    for chunk in np.array_split(data, 25):
        sk.update_batch(chunk)
    assert sk.is_estimation_mode()
    eps = KllSketch.normalized_rank_error(200)
    for q in (0.1, 0.25, 0.5, 0.75, 0.9):
        est = sk.get_quantile(q)
        true_rank = (data <= est).mean()
        assert abs(true_rank - q) <= 2 * eps, (q, est, true_rank)
    assert sk.n == 100_000


def test_kll_merge_law():
    rng = np.random.default_rng(2)
    a_data, b_data = rng.normal(size=30_000), rng.normal(size=30_000) + 0.1
    a, b = KllSketch(k=200), KllSketch(k=200)
    a.update_batch(a_data)
    b.update_batch(b_data)
    a.merge(b)
    full = np.concatenate([a_data, b_data])
    assert a.n == 60_000
    eps = KllSketch.normalized_rank_error(200)
    med = a.get_quantile(0.5)
    assert abs((full <= med).mean() - 0.5) <= 2.5 * eps


def test_ks_test():
    rng = np.random.default_rng(3)
    a, b, c = KllSketch(400), KllSketch(400), KllSketch(400)
    a.update_batch(rng.normal(size=50_000))
    b.update_batch(rng.normal(size=50_000))
    c.update_batch(rng.normal(loc=1.0, size=50_000))
    assert not ks_test(a, b, p_value=0.01)  # same distribution
    assert ks_test(a, c, p_value=0.01)  # shifted by 1 sd
    assert ks_delta(a, c) > ks_delta(a, b)


def test_kll_spark_agg(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sk = kll_sketch_agg(li, ["l_returnflag"], "l_quantity", k=200)
    out = with_quantiles(sk, [0.5]).select("l_returnflag", "kll_n", "quantiles").collect()
    pdf = li.select("l_returnflag", "l_quantity").toPandas()
    eps = KllSketch.normalized_rank_error(200)
    assert len(out) == pdf["l_returnflag"].nunique()
    for row in out:
        vals = pdf.loc[pdf["l_returnflag"] == row["l_returnflag"], "l_quantity"].to_numpy()
        assert row["kll_n"] == len(vals)
        est_med = row["quantiles"][0]
        assert abs((vals <= est_med).mean() - 0.5) <= 3 * eps


# ---------------------------------------------------------------------------
# Misra-Gries frequent items
# ---------------------------------------------------------------------------


def test_mg_exact_mode():
    st = MGState(64)
    rng = np.random.default_rng(4)
    items = pd.Series(rng.integers(0, 50, size=10_000))  # ndv < m
    st.update_batch(items)
    assert st.offset == 0  # never purged ⇒ exact
    vc = items.value_counts()
    for item, cnt in vc.items():
        assert st.counts[item] == cnt


def test_mg_bounds_and_heavy_hitters():
    rng = np.random.default_rng(5)
    zipf = np.minimum(rng.zipf(1.5, size=200_000), 10_000)
    st = MGState(128)
    for chunk in np.array_split(zipf, 40):
        st.update_batch(pd.Series(chunk))
    true = pd.Series(zipf).value_counts()
    total = len(zipf)
    # per-item: lb ≤ true ≤ ub for every retained item
    for item, est in st.counts.items():
        t = int(true.get(item, 0))
        assert est - st.offset <= t <= est, (item, est, st.offset, t)
    # a-priori bound: offset ≤ 3.5/m · total (reference ε)
    assert st.offset <= 3.5 / 128 * total
    # every true heavy hitter above ε·total is retained (no false negatives)
    eps_w = 3.5 / 128 * total
    for item, t in true.items():
        if t > eps_w:
            assert item in st.counts


def test_mg_spark_exact_vs_groupby(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ndv = ev.select("event_type").distinct().count()
    sk = frequent_items_agg(ev, [], "event_type", max_map_size=max(64, ndv + 1))
    got = {r["item"]: r["estimate"] for r in sk.collect()}
    exact = {
        r["event_type"]: r["cnt"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got == exact  # exact mode: never purged
    # result modes both return everything when offset == 0 and threshold 0
    nfp = get_frequent_items(sk, NO_FALSE_POSITIVES).count()
    nfn = get_frequent_items(sk, NO_FALSE_NEGATIVES).count()
    assert nfp == nfn == len(exact)


# ---------------------------------------------------------------------------
# count-min
# ---------------------------------------------------------------------------


def test_count_min_suggestions():
    """Reference builder formulas: the bench harness shape 7×2719 comes from
    suggest_num_hashes(0.999) and suggest_num_buckets(0.001)
    (benchmark_count_min_sketch.cpp:33-36)."""
    assert suggest_num_hashes(0.999) == 7
    assert suggest_num_buckets(0.001) == 2719
    assert suggest_num_buckets(0.1) == 28


def test_count_min_guarantee(spark):
    rng = np.random.default_rng(6)
    keys = np.minimum(rng.zipf(1.3, size=50_000), 5_000).astype(np.int64)
    df = spark.createDataFrame(pd.DataFrame({"k": keys}))
    d, w = 5, 1024
    sk = count_min_agg(df, [], "k", num_hashes=d, num_buckets=w)
    true = pd.Series(keys).value_counts()
    probe = spark.createDataFrame(pd.DataFrame({"k": true.index.to_numpy()[:500]}))
    est = {r["k"]: r["estimate"] for r in estimate_frequencies(sk, probe, "k").collect()}
    n = len(keys)
    eps = math.e / w
    over = 0
    for k_, e in est.items():
        t = int(true[k_])
        assert e >= t, "count-min must never under-estimate"
        if e > t + eps * n:
            over += 1
    # confidence 1-δ with δ = e^-d ≈ 0.0067 ⇒ essentially none exceed the bound
    assert over <= max(2, int(0.01 * len(est)))


def test_count_min_merge_is_exact_sum(spark):
    rng = np.random.default_rng(7)
    keys = rng.integers(0, 100, size=20_000).astype(np.int64)
    pdf = pd.DataFrame({"k": keys})
    df = spark.createDataFrame(pdf).repartition(8)  # many partial matrices
    sk = count_min_agg(df, [], "k", num_hashes=3, num_buckets=512).collect()[0]
    # single-partition reference build
    df1 = spark.createDataFrame(pdf).coalesce(1)
    sk1 = count_min_agg(df1, [], "k", num_hashes=3, num_buckets=512).collect()[0]
    assert list(sk["cm_matrix"]) == list(sk1["cm_matrix"])  # merge = elementwise sum
    assert sk["cm_total"] == sk1["cm_total"] == 20_000


# ---------------------------------------------------------------------------
# bloom filter
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_fpp(spark):
    n = 20_000
    m = suggest_num_bits(n, 0.01)
    k = suggest_num_hashes_from(n, m)
    members = spark.range(n).withColumnRenamed("id", "x")
    filt = bloom_filter_agg(members, "x", m, k)
    # every member passes
    hits = might_contain(members, filt, "x")
    assert hits.where(~F.col("might_contain")).count() == 0
    # false-positive rate near target on disjoint probes
    probes = spark.range(n, 2 * n).withColumnRenamed("id", "x")
    fp = might_contain(probes, filt, "x").where("might_contain").count()
    assert fp / n < 0.03  # target 0.01, generous margin


def test_bloom_set_ops(spark):
    """union_with / intersect / invert semantics (bloom_filter.hpp:505-517):
    union keeps every member of both sets; intersect keeps A∩B with no
    false negatives; invert approximately flips membership."""
    import pytest

    from datasketches_cpp_spark.functions.bloom import (
        bloom_intersect,
        bloom_invert,
        bloom_union,
    )

    n = 10_000
    m = suggest_num_bits(2 * n, 0.01)
    k = suggest_num_hashes_from(2 * n, m)
    a = spark.range(0, n).withColumnRenamed("id", "x")  # [0, n)
    b = spark.range(n // 2, n + n // 2).withColumnRenamed("id", "x")  # overlap half
    fa = bloom_filter_agg(a, "x", m, k)
    fb = bloom_filter_agg(b, "x", m, k)
    both = fa.unionByName(fb)

    # union: every member of A ∪ B passes
    u = bloom_union(both)
    all_members = spark.range(0, n + n // 2).withColumnRenamed("id", "x")
    assert might_contain(all_members, u, "x").where(~F.col("might_contain")).count() == 0
    assert u.collect()[0]["n_items"] == 2 * n  # upper bound: sum

    # intersect: A ∩ B = [n/2, n) all pass; most of the symmetric
    # difference fails (fpp-bounded)
    i = bloom_intersect(both)
    inter = spark.range(n // 2, n).withColumnRenamed("id", "x")
    assert might_contain(inter, i, "x").where(~F.col("might_contain")).count() == 0
    sym = spark.range(0, n // 2).withColumnRenamed("id", "x")
    fp = might_contain(sym, i, "x").where("might_contain").count()
    assert fp / (n // 2) < 0.05

    # invert: membership asymmetry flips. A member had ALL k bits set, so
    # after inversion it has none — members essentially never pass. A
    # non-member passes iff all k of its bit positions were CLEAR before
    # inversion: ≈ e^{-k²·n/m}, small but orders of magnitude above the
    # member rate (the reference's "approximately inverts" caveat).
    inv = bloom_invert(fa)
    member_hits = might_contain(a, inv, "x").where("might_contain").count()
    assert member_hits / n < 0.01
    fresh = spark.range(5 * n, 6 * n).withColumnRenamed("id", "x")
    fresh_hits = might_contain(fresh, inv, "x").where("might_contain").count()
    assert fresh_hits > max(20 * member_hits, n // 100)
    assert inv.collect()[0]["n_items"] == -1

    # config mismatch fails fast
    fb2 = bloom_filter_agg(b, "x", m + 8, k)
    with pytest.raises(Exception, match="identical"):
        bloom_union(fa.unionByName(fb2)).collect()


def test_bloom_prefilter_join_equals_plain_join(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").where("c_custkey % 7 = 0")
    got = (
        bloom_prefilter_join(orders, cust, "o_custkey", "c_custkey", fpp=0.01)
        .select("o_orderkey", "c_custkey")
        .sort("o_orderkey")
        .collect()
    )
    want = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select("o_orderkey", "c_custkey")
        .sort("o_orderkey")
        .collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# var_opt sampling
# ---------------------------------------------------------------------------


def test_varopt_exact_when_k_ge_n(spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    sample = var_opt_agg(nation, [], "n_nationkey", weight_col=None, k=100)
    est = estimate_subset_sum(sample, F.col("item") < 10).collect()[0]
    true = nation.where("n_nationkey < 10").count()
    assert est["estimate"] == pytest.approx(true)
    assert est["lower_bound"] == pytest.approx(true)
    assert est["upper_bound"] == pytest.approx(true)


def test_varopt_sampled_estimate(spark):
    rng = np.random.default_rng(8)
    pdf = pd.DataFrame(
        {"i": np.arange(50_000), "w": rng.exponential(2.0, size=50_000) + 0.1}
    )
    df = spark.createDataFrame(pdf).repartition(8)
    sample = var_opt_agg(df, [], "i", "w", k=2048)
    row = estimate_subset_sum(sample, F.col("item") % 2 == 0).collect()[0]
    true = pdf.loc[pdf["i"] % 2 == 0, "w"].sum()
    # half the weight, k=2048 ⇒ tight estimate; assert within ±10%
    assert row["estimate"] == pytest.approx(true, rel=0.10)
    assert row["total_weight"] == pytest.approx(pdf["w"].sum(), rel=1e-6)
    assert row["n"] == 50_000


# ---------------------------------------------------------------------------
# tuple sketch
# ---------------------------------------------------------------------------


def test_tuple_exact_mode_sum_policy(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    sk = tuple_sketch_agg(
        orders, [], "o_custkey", "o_totalprice", policy="sum", lg_k=18
    )
    row = with_summary_sum_estimate(with_key_estimate(sk)).collect()[0]
    exact = orders.agg(
        F.countDistinct("o_custkey").alias("ndv"),
        F.sum("o_totalprice").alias("tot"),
    ).collect()[0]
    assert row["theta"] == -1  # exact mode
    assert row["estimate"] == pytest.approx(exact["ndv"])
    assert row["summary_sum"] == pytest.approx(exact["tot"], rel=1e-9)


def test_tuple_filtered_estimate_exact(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    sk = tuple_sketch_agg(orders, [], "o_custkey", "o_totalprice", "max", lg_k=18)
    row = filtered_key_estimate(sk, 100_000.0).collect()[0]
    exact = (
        orders.groupBy("o_custkey")
        .agg(F.max("o_totalprice").alias("mx"))
        .where("mx >= 100000.0")
        .count()
    )
    assert row["keys_passing"] == pytest.approx(exact)


def test_tuple_estimation_mode(spark):
    rng = np.random.default_rng(9)
    pdf = pd.DataFrame(
        {"k": np.arange(100_000).astype(np.int64), "v": np.ones(100_000)}
    )
    df = spark.createDataFrame(pdf).repartition(8)
    sk = tuple_sketch_agg(df, [], "k", "v", "sum", lg_k=12)
    row = with_key_estimate(sk).collect()[0]
    assert row["theta"] != -1
    assert row["estimate"] == pytest.approx(100_000, rel=0.05)  # ±1% envelope @3sd≈5%


# ---------------------------------------------------------------------------
# HLL wrapper
# ---------------------------------------------------------------------------


def test_hll_within_bounds(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = hll_distinct_agg(li, [], "l_orderkey", lg_k=12, num_std_devs=3).collect()[0]
    exact = li.select("l_orderkey").distinct().count()
    assert row["lower_bound"] <= exact <= row["upper_bound"]
    assert row["estimate"] == pytest.approx(exact, rel=4 * rse(12))


# ---------------------------------------------------------------------------
# from-scratch HLL register sketch (functions/hll.hll_sketch_agg)
# ---------------------------------------------------------------------------


def test_hll_sketch_error_envelope(spark):
    """Estimate within the reference ±3σ envelope (rse = 1.03896/sqrt(K),
    HllUtil.hpp:86) at ndv >> K, and partition-layout invariant."""
    from datasketches_cpp_spark.functions.hll import HLL_NON_HIP_RSE_FACTOR, hll_sketch_agg

    n = 120_000
    lg_k = 11
    df = spark.range(n).select((F.col("id") * 2654435761 % 1000000007).alias("v"))
    ests = []
    for parts in (3, 17):
        out = hll_sketch_agg(
            df.repartition(parts), [], "v", lg_k=lg_k, num_std_devs=3
        ).collect()[0]
        ests.append(out["estimate"])
        rse = HLL_NON_HIP_RSE_FACTOR / math.sqrt(float(1 << lg_k))
        # classic (non-HIP) composite estimator: 3.5σ absorbs the small
        # residual bias the reference corrects with HIP/bias tables
        assert abs(out["estimate"] - n) / n < 3.5 * rse
        assert out["lower_bound"] <= n <= out["upper_bound"]
    # register state is a pure function of the data -> estimates identical
    # across partition layouts
    assert ests[0] == ests[1]


def test_hll_merge_sketches_union_law(spark):
    """union(sketch(A), sketch(B)) == sketch(A ∪ B) exactly (register max
    is the merge law, reference hll_union semantics)."""
    from datasketches_cpp_spark.functions.hll import hll_sketch_agg, hll_merge_sketches

    a = spark.range(0, 50_000).select(F.col("id").alias("v"))
    b = spark.range(30_000, 80_000).select(F.col("id").alias("v"))

    import datasketches_cpp_spark.functions.hll as hllmod
    lg_k = 10

    sk_a_parts = _partials(hllmod, a, lg_k)
    sk_b_parts = _partials(hllmod, b, lg_k)
    merged = hll_merge_sketches(sk_a_parts, sk_b_parts, [], num_std_devs=2).collect()[0]
    direct = hll_sketch_agg(a.unionByName(b), [], "v", lg_k=lg_k).collect()[0]
    assert merged["estimate"] == direct["estimate"]
    true_union = 80_000
    assert abs(merged["estimate"] - true_union) / true_union < 0.1


def _partials(hllmod, df, lg_k):
    """Raw partial register rows for a frame (the mergeable state)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType, StructField, StructType
    from datasketches_cpp_spark.functions.theta import _hash_series
    from datasketches_cpp_spark.hashing import DEFAULT_SEED

    k = 1 << lg_k
    dtype = dict(df.dtypes)["v"]

    def partial(batches):
        state = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            hashes, _ = _hash_series(pdf["v"], dtype, DEFAULT_SEED)
            slots = (hashes.astype(np.uint64) & np.uint64(k - 1)).astype(np.int64)
            rhos = hllmod._rho(hashes, lg_k)
            if state is None:
                state = np.zeros(k, np.uint8)
            np.maximum.at(state, slots, rhos)
        if state is None:
            return
        yield pd.DataFrame({"regs": [state.tobytes()]})

    return df.mapInPandas(partial, StructType([StructField("regs", BinaryType(), False)]))


# ---------------------------------------------------------------------------
# stratified QA sampling (functions/sampling.stratified_sample)
# ---------------------------------------------------------------------------


def test_stratified_sample_layout_invariant_and_jvm(spark):
    """Same rows sampled regardless of partition layout (hash threshold is
    a pure function of the data), per-stratum coverage within envelope,
    and the sampling filter is pure JVM (no Python eval in the plan)."""
    from datasketches_cpp_spark.functions.sampling import (
        stratified_sample,
        stratified_sample_qa,
    )

    df = spark.range(40_000).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("s")
    )
    picks = []
    for parts in (2, 13):
        got = stratified_sample(df.repartition(parts), ["s"], "k", 0.1)
        picks.append({r["k"] for r in got.collect()})
    assert picks[0] == picks[1]
    qa = stratified_sample_qa(df, ["s"], "k", 0.1).collect()
    assert len(qa) == 3 and all(r["within_envelope"] for r in qa)
    plan = stratified_sample(df, ["s"], "k", 0.1)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_varopt_marked_item_discipline(spark):
    """Reference var_opt_union marking rules: an item that was ever
    resampled (R zone) must never surface with weight_exact=True, while a
    genuinely heavy item keeps its exact weight through partial AND final
    stages; Σ adjusted_weight stays an unbiased estimate of total weight."""
    import pandas as pd
    from datasketches_cpp_spark.functions.sampling import var_opt_agg

    n = 5_000
    pdf = pd.DataFrame({
        "item": np.arange(n, dtype=np.int64),
        "w": np.ones(n),
    })
    pdf.loc[0, "w"] = 10_000.0  # one dominant heavy
    df = spark.createDataFrame(pdf).repartition(8)
    out = var_opt_agg(df, [], "item", "w", k=64).toPandas()
    assert len(out) <= 64
    heavy = out[out["item"] == 0]
    assert len(heavy) == 1
    assert bool(heavy["weight_exact"].iloc[0]) and heavy["adjusted_weight"].iloc[0] == 10_000.0
    light = out[out["item"] != 0]
    # every light survivor went through >=1 resample: never exact
    assert not light["weight_exact"].any()
    # all resampled rows share the final tau
    assert light["adjusted_weight"].nunique() == 1
    # unbiasedness: retained weight ~ total weight (loose 3-sigma-ish band)
    total = 10_000.0 + (n - 1)
    assert abs(out["adjusted_weight"].sum() - total) / total < 0.25


# ---------------------------------------------------------------------------
# classic quantiles sketch (functions/classic_quantiles)
# ---------------------------------------------------------------------------


def test_classic_quantiles_kernel_envelope():
    """Rank error within published ε = 1.576/k^0.9726; bit-pattern law:
    #valid levels == popcount(n // 2k)."""
    from datasketches_cpp_spark.functions.classic_quantiles import (
        ClassicQuantilesSketch,
    )

    rng = np.random.default_rng(11)
    data = rng.random(150_000)
    sk = ClassicQuantilesSketch(k=128)
    for chunk in np.array_split(data, 31):
        sk.update_batch(chunk)
    eps = ClassicQuantilesSketch.normalized_rank_error(128)
    for q in (0.05, 0.25, 0.5, 0.75, 0.95):
        est = sk.get_quantile(q)
        assert abs((data <= est).mean() - q) <= 2 * eps
    assert sum(a is not None for a in sk.levels) == bin(sk.n // 256).count("1")
    # exact below 2k
    s2 = ClassicQuantilesSketch(k=128)
    s2.update_batch(np.arange(100.0))
    assert not s2.is_estimation_mode()
    assert s2.get_quantile(0.5) == 49.0


def test_classic_quantiles_merge_law():
    from datasketches_cpp_spark.functions.classic_quantiles import (
        ClassicQuantilesSketch,
    )

    rng = np.random.default_rng(12)
    d1, d2 = rng.normal(size=40_000), rng.normal(size=30_001) + 0.3
    a, b = ClassicQuantilesSketch(128), ClassicQuantilesSketch(128)
    a.update_batch(d1)
    b.update_batch(d2)
    a.merge(b)
    assert a.n == 70_001
    full = np.concatenate([d1, d2])
    eps = ClassicQuantilesSketch.normalized_rank_error(128)
    med = a.get_quantile(0.5)
    assert abs((full <= med).mean() - 0.5) <= 2.5 * eps
    # mixed-k merges are supported now (downsampling to min k, reference
    # semantics — test_classic_mixed_k_merge); an empty other is a no-op
    # regardless of k
    a.merge(ClassicQuantilesSketch(64))
    assert a.n == 70_001 and a.k == 128


def test_classic_quantiles_spark_agg(spark, sf_dir):
    from datasketches_cpp_spark.functions.classic_quantiles import (
        ClassicQuantilesSketch,
        classic_quantiles_agg,
        with_classic_quantiles,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sk = classic_quantiles_agg(li, ["l_returnflag"], "l_extendedprice", k=128)
    out = with_classic_quantiles(sk, [0.5, 0.9]).collect()
    pdf = li.select("l_returnflag", "l_extendedprice").toPandas()
    eps = ClassicQuantilesSketch.normalized_rank_error(128)
    assert len(out) == pdf["l_returnflag"].nunique()
    for row in out:
        vals = pdf.loc[pdf["l_returnflag"] == row["l_returnflag"], "l_extendedprice"].to_numpy(dtype=np.float64)
        assert row["cq_n"] == len(vals)
        for q, est in zip((0.5, 0.9), row["quantiles"]):
            assert abs((vals <= est).mean() - q) <= 3 * eps


def test_classic_quantiles_pmf_cdf():
    from datasketches_cpp_spark.functions.classic_quantiles import (
        ClassicQuantilesSketch,
    )

    rng = np.random.default_rng(13)
    data = rng.random(80_000)
    sk = ClassicQuantilesSketch(k=128)
    sk.update_batch(data)
    eps = ClassicQuantilesSketch.normalized_rank_error(128, pmf=True)
    splits = np.array([0.25, 0.5, 0.75])
    cdf = sk.get_cdf(splits)
    assert cdf[-1] == 1.0 and np.all(np.diff(cdf) >= 0)
    for s, c in zip(splits, cdf):
        assert abs(c - s) <= 2 * eps  # uniform data: CDF(x) == x
    pmf = sk.get_pmf(splits)
    assert pmf.sum() == pytest.approx(1.0, abs=1e-12)
    assert np.all(pmf >= 0)


def test_hll_merge_mixed_lg_k(spark):
    """Sketches built at DIFFERENT lg_k merge (reference hll_union
    downsampling): the mixed union's register state equals the direct
    build of A ∪ B at the smaller lg_k, bit for bit — the fold is exact
    because the removed slot bit lands at the bottom of the rho window
    (functions/hll.py fold_registers)."""
    from datasketches_cpp_spark.functions.hll import hll_merge_sketches, hll_sketch_agg
    import datasketches_cpp_spark.functions.hll as hllmod

    a = spark.range(0, 40_000).select(F.col("id").alias("v"))
    b = spark.range(25_000, 70_000).select(F.col("id").alias("v"))
    sk_a = _partials(hllmod, a, 12)     # bigger sketch
    sk_b = _partials(hllmod, b, 10)     # smaller sketch
    merged = hll_merge_sketches(sk_a, sk_b, [], num_std_devs=2).collect()[0]
    direct = hll_sketch_agg(a.unionByName(b), [], "v", lg_k=10).collect()[0]
    assert merged["estimate"] == direct["estimate"]
    assert abs(merged["estimate"] - 70_000) / 70_000 < 0.1


def test_cpc_union_mixed_lg_k(spark):
    """CPC mixed-lg_k union (reference cpc_union reduce-k): OR-merge after
    folding the larger matrix equals the direct build at the smaller
    lg_k, bit for bit (functions/cpc.py fold_matrix_k)."""
    import numpy as np

    from datasketches_cpp_spark.functions.cpc import (
        cpc_sketch_agg,
        cpc_union_agg,
        with_estimate,
    )

    df = spark.createDataFrame(
        [(int(i), int(i % 2)) for i in range(12_000)], "v long, epoch int"
    )
    hi = cpc_sketch_agg(df.where("epoch = 0"), [], "v", lg_k=12)
    lo = cpc_sketch_agg(df.where("epoch = 1"), [], "v", lg_k=10)
    merged = with_estimate(cpc_union_agg(hi.unionByName(lo), [])).collect()[0]
    direct = cpc_sketch_agg(df, [], "v", lg_k=10).collect()[0]
    assert merged["lg_k"] == 10
    got = np.asarray(merged["coupons"], np.int64).view(np.uint64)
    want = np.asarray(direct["coupons"], np.int64).view(np.uint64)
    assert np.array_equal(got, want)
    assert abs(merged["estimate"] - 12_000) / 12_000 < 0.1


def test_kll_mixed_k_merge():
    """Reference kll_sketch::merge accepts differing k; the merged sketch
    keeps this k's structure and reports rank error by the smallest
    estimation-mode contributor (min_k)."""
    import numpy as np

    from datasketches_cpp_spark.functions.quantiles import KllSketch

    rng = np.random.default_rng(1)
    a_vals, b_vals = rng.random(40_000), rng.random(30_000) + 0.5
    a = KllSketch(200)
    a.update_batch(a_vals)
    b = KllSketch(100)
    b.update_batch(b_vals)
    a.merge(b)
    assert a.n == 70_000
    assert a.min_k == 100
    assert a.get_normalized_rank_error() == KllSketch.normalized_rank_error(100)
    exact = np.sort(np.concatenate([a_vals, b_vals]))
    for r in (0.1, 0.5, 0.9):
        true_rank = np.searchsorted(exact, a.get_quantile(r)) / len(exact)
        assert abs(true_rank - r) < 3 * a.get_normalized_rank_error()
    # exact-mode other never degrades min_k
    c = KllSketch(200)
    c.update_batch(rng.random(5000))
    d = KllSketch(8)
    d.update_batch(np.array([1.0, 2.0]))
    c.merge(d)
    assert c.min_k == 200 and c.n == 5002


def test_classic_mixed_k_merge():
    """Reference quantiles_sketch::merge downsampling semantics: mixed-k
    estimation merges end at min(k) with total weight conserved; an
    exact-mode other streams raw regardless of k."""
    import numpy as np

    from datasketches_cpp_spark.functions.classic_quantiles import (
        ClassicQuantilesSketch,
    )

    rng = np.random.default_rng(2)
    a_vals, b_vals = rng.random(40_000), rng.random(30_000) + 0.5
    exact = np.sort(np.concatenate([a_vals, b_vals]))
    for ka, kb in ((128, 32), (32, 128)):
        ca = ClassicQuantilesSketch(ka)
        ca.update_batch(a_vals)
        cb = ClassicQuantilesSketch(kb)
        cb.update_batch(b_vals)
        ca.merge(cb)
        assert ca.k == min(ka, kb) and ca.n == 70_000
        _, w = ca.sorted_view()
        assert w[-1] == 70_000  # weight conserved through the level algebra
        eps = 1.576 / (ca.k ** 0.9726)
        for r in (0.1, 0.5, 0.9):
            true_rank = np.searchsorted(exact, ca.get_quantile(r)) / len(exact)
            assert abs(true_rank - r) < 3 * eps
    ca = ClassicQuantilesSketch(128)
    ca.update_batch(a_vals)
    cb = ClassicQuantilesSketch(32)
    cb.update_batch(np.array([9.0, 10.0]))
    ca.merge(cb)
    assert ca.k == 128 and ca.n == 40_002 and ca.max_item == 10.0


def test_array_tuple_exact_mode(spark, sf_dir):
    """AOD agg in exact mode (lg_k ≥ ndv): per-key vectors equal the
    groupBy oracle; value_sums estimate is exactly the column sums."""
    from datasketches_cpp_spark.functions.tuplesketch import (
        array_tuple_sketch_agg,
        with_value_sums_estimate,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey",
        F.array(
            F.col("l_quantity").cast("double"),
            F.col("l_extendedprice").cast("double"),
            F.lit(1.0),
        ).alias("vals"),
    )
    sk = array_tuple_sketch_agg(li, [], "l_orderkey", "vals", 3, lg_k=16)
    row = with_value_sums_estimate(sk, 3).collect()[0]
    assert row["theta"] == -1  # exact mode
    exact = li.agg(
        F.count_distinct("l_orderkey"),
        F.sum(F.col("vals")[0]),
        F.sum(F.col("vals")[1]),
        F.count(F.lit(1)).cast("double"),
    ).collect()[0]
    assert len(row["sig"]) == exact[0]
    assert row["value_sums"][0] == pytest.approx(exact[1], rel=1e-9)
    assert row["value_sums"][1] == pytest.approx(exact[2], rel=1e-9)
    assert row["value_sums"][2] == pytest.approx(exact[3], rel=1e-9)


def test_tuple_pair_set_ops_missing_side(spark):
    """Keyed full_outer semantics: a key on only one side meets an EMPTY
    sketch — set-op estimates and summary sums degrade one-sided."""
    from datasketches_cpp_spark.functions.tuplesketch import (
        tuple_pair_set_ops,
        tuple_sketch_agg,
    )

    a = spark.range(0, 200).select(
        F.lit("only_a").alias("g"), F.col("id").alias("k"), F.lit(2.0).alias("w")
    )
    b = spark.range(0, 500).select(
        F.lit("only_b").alias("g"),
        (F.col("id") + 7_000).alias("k"),
        F.lit(3.0).alias("w"),
    )
    ska = tuple_sketch_agg(a, ["g"], "k", "w", policy="sum", lg_k=12)
    skb = tuple_sketch_agg(b, ["g"], "k", "w", policy="sum", lg_k=12)
    rows = {
        r["key"]: r
        for r in tuple_pair_set_ops(ska, skb, ["g"], k=1 << 12, policy="sum").collect()
    }
    assert set(rows) == {"only_a", "only_b"}
    ra, rb = rows["only_a"], rows["only_b"]
    assert ra["est_a"] == 200.0 and ra["est_b"] == 0.0
    assert ra["est_union"] == 200.0 and ra["est_intersection"] == 0.0
    assert ra["est_a_not_b"] == 200.0
    assert ra["sum_a"] == pytest.approx(400.0)
    assert ra["sum_union"] == pytest.approx(400.0)
    assert ra["sum_intersection"] == 0.0
    assert rb["est_a"] == 0.0 and rb["est_b"] == 500.0
    assert rb["est_union"] == 500.0 and rb["est_a_not_b"] == 0.0
    assert rb["sum_b"] == pytest.approx(1500.0)
    assert rb["sum_union"] == pytest.approx(1500.0)


def test_array_tuple_estimation_and_setops(spark):
    """Estimation mode: distinct-key and per-column-sum estimates within
    the theta error envelope; AOD set ops combine element-wise."""
    import numpy as np

    from datasketches_cpp_spark.functions.tuplesketch import (
        array_tuple_pair_set_ops,
        array_tuple_sketch_agg,
        with_value_sums_estimate,
    )

    n = 40_000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.array((F.col("id") % 5).cast("double"), F.lit(2.0)).alias("vals"),
    )
    sk = array_tuple_sketch_agg(df, [], "k", "vals", 2, lg_k=10)
    row = with_value_sums_estimate(sk, 2).collect()[0]
    assert row["theta"] > 0  # estimation mode
    rse = 3 / np.sqrt(1 << 10)
    true0 = sum(i % 5 for i in range(n))
    assert abs(row["value_sums"][0] - true0) / true0 < 2 * rse
    assert abs(row["value_sums"][1] - 2.0 * n) / (2.0 * n) < 2 * rse

    # overlapping halves, exact mode: set-op sums are exact
    a = spark.range(0, 3000).select(
        F.col("id").alias("k"), F.array(F.lit(1.0), F.lit(3.0)).alias("vals")
    )
    b = spark.range(2000, 5000).select(
        F.col("id").alias("k"), F.array(F.lit(1.0), F.lit(3.0)).alias("vals")
    )
    ska = array_tuple_sketch_agg(a, [], "k", "vals", 2, lg_k=13)
    skb = array_tuple_sketch_agg(b, [], "k", "vals", 2, lg_k=13)
    ops = array_tuple_pair_set_ops(ska, skb, [], k=1 << 13, num_values=2).collect()[0]
    assert ops["est_union"] == 5000.0
    assert ops["est_intersection"] == 1000.0
    assert ops["est_a_not_b"] == 2000.0
    # union: overlap keys combine by sum → (3000+3000-1000·(dup collapses
    # to combined 2)) per column: 4000 keys at 1.0 + 1000 keys at 2.0
    assert ops["vsum_union"][0] == pytest.approx(6000.0)
    assert ops["vsum_union"][1] == pytest.approx(18000.0)
    assert ops["vsum_intersection"][0] == pytest.approx(2000.0)
    assert ops["vsum_a_not_b"][0] == pytest.approx(2000.0)


def test_ks_generic_classic_quantiles():
    """The reference KS is generic over KLL and classic quantiles
    (kolmogorov_smirnov.hpp templated sketch arg): disjoint epochs must
    reject, identical epochs must accept, and a cross-family (KLL vs
    classic) test on the same data must accept."""
    from datasketches_cpp_spark.functions.classic_quantiles import (
        ClassicQuantilesSketch,
    )
    from datasketches_cpp_spark.functions.quantiles import (
        KllSketch,
        ks_delta,
        ks_test,
    )

    rng = np.random.default_rng(3)
    x = rng.normal(0.0, 1.0, 50_000)
    y = rng.normal(4.0, 1.0, 50_000)

    ca, cb, cx = (ClassicQuantilesSketch(k=128) for _ in range(3))
    ca.update_batch(x)
    cb.update_batch(y)
    cx.update_batch(x)
    assert ks_test(ca, cb, 0.01)          # shifted → reject H0
    assert not ks_test(ca, cx, 0.01)      # same distribution → accept
    assert ks_delta(ca, ca) == 0.0

    kl = KllSketch(k=200)
    kl.update_batch(x)
    assert not ks_test(kl, cx, 0.01)      # cross-family, same data → accept
    assert ks_test(kl, cb, 0.01)          # cross-family, shifted → reject


def test_ks_generic_over_all_four_quantile_families():
    """The KS template spans KLL, classic, REQ, AND t-digest (reference
    protocol shape — sorted_view/num_retained/rank-error; REQ and t-digest
    are engine extensions with their own ks_epsilon envelopes): every
    same-distribution pair accepts, every shifted pair rejects, in any
    cross-family combination."""
    from datasketches_cpp_spark.functions.classic_quantiles import (
        ClassicQuantilesSketch,
    )
    from datasketches_cpp_spark.functions.quantiles import KllSketch, ks_test
    from datasketches_cpp_spark.functions.req import ReqSketch
    from datasketches_cpp_spark.functions.tdigest import TDigest

    rng = np.random.default_rng(7)
    x = rng.normal(0.0, 1.0, 50_000)
    x2 = rng.normal(0.0, 1.0, 50_000)
    y = rng.normal(4.0, 1.0, 50_000)

    def build(data):
        sketches = [
            KllSketch(k=200),
            ClassicQuantilesSketch(k=128),
            ReqSketch(k=12),
            TDigest(delta=200),
        ]
        for s in sketches:
            s.update_batch(data)
        return sketches

    same_a, same_b, shifted = build(x), build(x2), build(y)
    for i, a in enumerate(same_a):
        for j, b in enumerate(same_b):
            assert not ks_test(a, b, 0.01), (i, j, "same distribution rejected")
        for j, b in enumerate(shifted):
            assert ks_test(a, b, 0.01), (i, j, "4-sigma shift accepted")


def test_aos_exact_mode_and_layout_invariance(spark, sf_dir):
    """Array-of-strings tuple agg (reference array_of_strings_sketch):
    exact mode retains every distinct key with the deterministic
    greatest-tuple summary; the result is partition-layout-invariant and
    round-trips the reference wire format."""
    from datasketches_cpp_spark.functions.tuplesketch import (
        aos_hash_key,
        aos_sketch_agg,
    )
    from datasketches_cpp_spark.functions.tupleserde import (
        deserialize_aos,
        serialize_aos,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.array(F.col("o_custkey").cast("string")).alias("key"),
        F.array("o_orderpriority", "o_orderstatus").alias("val"),
    )
    row = aos_sketch_agg(orders, [], "key", "val", lg_k=14).collect()[0]
    assert row["theta"] == -1  # exact mode at this sf
    # oracle: per clerk, the greatest (priority, status) tuple
    exact = {
        str(r["o_custkey"]): (r["mx"]["o_orderpriority"], r["mx"]["o_orderstatus"])
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_custkey")
        .agg(F.max(F.struct("o_orderpriority", "o_orderstatus")).alias("mx"))
        .collect()
    }
    assert len(row["sig"]) == len(exact)
    # every retained entry maps to its clerk's greatest tuple
    from datasketches_cpp_spark.hashing import hash63_int64
    import numpy as np

    want = {}
    for ck, tup in exact.items():
        k64 = np.array([aos_hash_key([ck])], np.uint64).view(np.int64)
        want[int(hash63_int64(k64)[0])] = list(tup)
    got = dict(zip([int(s) for s in row["sig"]],
                   [list(v) for v in row["summaries"]]))
    assert got == want
    # layout invariance: 1-partition rerun is identical
    row1 = aos_sketch_agg(
        orders.repartition(1), [], "key", "val", lg_k=14
    ).collect()[0]
    assert list(row1["sig"]) == list(row["sig"])
    assert [list(v) for v in row1["summaries"]] == [
        list(v) for v in row["summaries"]
    ]
    # wire roundtrip of the aggregated state
    blob = serialize_aos(
        row["theta"], np.asarray(row["sig"], np.int64),
        [list(v) for v in row["summaries"]],
    )
    t2, k2, v2 = deserialize_aos(blob)
    assert t2 == -1 and list(k2) == list(row["sig"])
    assert v2 == [list(v) for v in row["summaries"]]


def test_aos_estimation_mode(spark):
    """Estimation mode: k-min cut engages, estimate lands in the theta
    envelope, and summaries stay aligned with retained keys."""
    from datasketches_cpp_spark.functions.tuplesketch import aos_sketch_agg
    from datasketches_cpp_spark.kmv import MAX_THETA

    n = 30_000
    df = spark.range(n).select(
        F.array(F.concat(F.lit("k"), F.col("id"))).alias("key"),
        F.array(F.concat(F.lit("v"), F.col("id") % 13)).alias("val"),
    )
    row = aos_sketch_agg(df, [], "key", "val", lg_k=8).collect()[0]
    assert 0 < row["theta"] < MAX_THETA
    k = 1 << 8
    assert len(row["sig"]) == k == len(row["summaries"])
    est = len(row["sig"]) / (row["theta"] / MAX_THETA)
    assert est == pytest.approx(n, rel=0.15)
    assert all(v[0].startswith("v") for v in row["summaries"])


def test_tuple_jaccard_matches_theta_jaccard(spark, sf_dir):
    """tuple_jaccard (reference tuple_jaccard_similarity = the theta
    jaccard template over tuple keys): exact-mode tuple sketches of
    overlapping key ranges give the exact Jaccard, equal to kmv.jaccard
    on plain theta sketches of the same sets."""
    from datasketches_cpp_spark.functions.tuplesketch import (
        tuple_sketch_agg,
        tuple_jaccard,
    )

    df = spark.range(0, 1500).select(
        F.col("id").alias("k"), F.lit(1.0).alias("v"),
        F.lit("a").alias("g"),
    )
    df2 = spark.range(500, 2000).select(
        F.col("id").alias("k"), F.lit(1.0).alias("v"),
        F.lit("b").alias("g"),
    )
    ra = tuple_sketch_agg(df, ["g"], "k", "v", lg_k=14).collect()[0]
    rb = tuple_sketch_agg(df2, ["g"], "k", "v", lg_k=14).collect()[0]
    lb, est, ub = tuple_jaccard(ra, rb, k=1 << 14)
    # |A∩B| = 1000, |A∪B| = 2000 → J = 0.5, exact mode collapses the CI
    assert est == pytest.approx(0.5, abs=1e-12)
    assert lb == est == ub


def test_ks_test_empty_sketch_never_rejects():
    from datasketches_cpp_spark.functions.quantiles import (
        KllSketch,
        ks_test,
        ks_threshold,
    )

    a, b = KllSketch(), KllSketch()
    a.update_batch(np.arange(1000.0))
    assert ks_threshold(a, b, 0.05) == math.inf
    assert ks_test(a, b, 0.05) is False  # no evidence, no rejection


def test_hll_state_lg_k_validated():
    from datasketches_cpp_spark.functions.hll import HllState

    with pytest.raises(ValueError, match="lg_k"):
        HllState(lg_k=3)
    with pytest.raises(ValueError, match="lg_k"):
        HllState(lg_k=22)


def test_hll_agg_lower_bound_floored_at_nonzero_registers(spark):
    """3 distinct items: the relErr quotient alone would report a lower
    bound below 3, but 3 registers are provably occupied (reference
    HllArray getLowerBound numNonZeros floor)."""
    from datasketches_cpp_spark.functions.hll import hll_sketch_agg

    df = spark.createDataFrame([(i,) for i in range(3)], "v long")
    row = hll_sketch_agg(df, [], "v", lg_k=12).collect()[0]
    assert row["estimate"] >= 3.0
    assert row["lower_bound"] >= 3.0


def test_freq_merge_preserves_mg_guarantees():
    """Merge absorbs the OTHER side's offset into self-only items (the
    reference adds offsets): an item B purged away may have been seen up
    to off_b times, so its merged upper bound must grow by off_b — and
    the merged offset never drops below the accumulated floor."""
    from datasketches_cpp_spark.functions.freq import MGState

    a = MGState(4)
    a.update_batch(pd.Series(["x"] * 200))
    a.merge([], [], 50, 50)  # B: empty map, offset 50 (x purged there)
    assert a.counts["x"] == 250  # upper bound covers the true count
    assert a.offset == 50

    b = MGState(2)
    b.update_batch(pd.Series(["p"] * 100 + ["q"] * 90 + ["r"] * 60))
    off = b.offset
    assert off > 0
    b.merge(["z"], [3], 0, 3)
    assert b.offset >= off  # no offset collapse from a tiny merge


def test_varopt_sample_size_is_exactly_k():
    """var_opt retains EXACTLY k items when n > k (systematic PPS over
    the lights) — independent coins bound the size only in expectation."""
    from datasketches_cpp_spark.functions.sampling import _varopt_sample

    for s in range(20):
        rng = np.random.default_rng(s)
        it, w, m = _varopt_sample(np.arange(5000), np.ones(5000), 64, rng)
        assert len(it) == 64
    # weighted: heavies exact, total size still k
    rng = np.random.default_rng(99)
    weights = np.concatenate([np.full(5, 1e4), np.ones(800)])
    it, w, m = _varopt_sample(np.arange(805), weights, 32, rng)
    assert len(it) == 32 and (w[:5] == 1e4).all()


BIG = 2**53


def test_bloom_might_contain_null_probe_is_false(spark):
    """A null probe is definitively absent, and it must not change the
    long probes of its batch: as float64, 2^53 + 1 would round and miss
    the filter that holds it (a false negative) and come back rounded."""
    from datasketches_cpp_spark.functions.bloom import (
        bloom_filter_agg,
        might_contain,
    )

    filt = bloom_filter_agg(
        spark.createDataFrame([(i,) for i in [*range(50), BIG + 1, BIG + 3]], "k long"),
        "k", num_bits=1024, num_hashes=4,
    ).drop("n_items")
    probes = spark.createDataFrame(
        [(1,), (None,), (999,), (BIG + 1,), (BIG + 3,)], "k long"
    ).repartition(1)
    got = {r["k"]: r["might_contain"]
           for r in might_contain(probes, filt, "k").collect()}
    assert got[1] is True and got[None] is False
    assert got[BIG + 1] is True and got[BIG + 3] is True


def test_count_min_never_below_true_count_beside_a_null_probe(spark):
    """A count-min estimate is never below the true count, also for long
    items above 2^53 probed in the same batch as a null (which answers 0,
    as the aggregate never counts a null); the probe column comes back
    exact."""
    items = [BIG + 1] * 5 + [BIG + 3] * 3 + [7]
    sk = count_min_agg(
        spark.createDataFrame([(i,) for i in items], "k long"), [], "k",
        num_hashes=3, num_buckets=64,
    )
    probes = spark.createDataFrame(
        [(BIG + 1,), (None,), (BIG + 3,)], "k long"
    ).repartition(1)
    got = {r["k"]: r["estimate"] for r in estimate_frequencies(sk, probes, "k").collect()}
    assert set(got) == {BIG + 1, BIG + 3, None}
    assert got[BIG + 1] >= 5 and got[BIG + 3] >= 3 and got[None] == 0


@pytest.mark.parametrize("family", ["kll", "req", "classic", "tdigest"])
def test_nan_item_ranks_last(family):
    """A NaN item ranks 1.0 in every float quantile family: it sorts above
    every retained item (KLL over strings holds no NaN item)."""
    from datasketches_cpp_spark.functions.classic_quantiles import (
        ClassicQuantilesSketch,
    )
    from datasketches_cpp_spark.functions.req import ReqSketch
    from datasketches_cpp_spark.functions.tdigest import TDigest

    sk = {
        "kll": lambda: KllSketch(k=16),
        "req": lambda: ReqSketch(k=4),
        "classic": lambda: ClassicQuantilesSketch(k=8),
        "tdigest": lambda: TDigest(20),
    }[family]()
    sk.update_batch(np.arange(100, dtype=np.float64))
    assert sk.get_rank(math.nan) == 1.0


def test_density_agg_skips_null_vectors(spark):
    from datasketches_cpp_spark.functions.density import density_sketch_agg

    rows = [([float(i), 0.0],) for i in range(20)] + [(None,)]
    df = spark.createDataFrame(rows, "v array<double>")
    out = density_sketch_agg(df, [], "v", k=16, dim=2).collect()
    assert len(out) == 1  # null row skipped, not a batch crash


def test_mg_fold_counts_in_pandas_order():
    """``MGState.update_batch`` counts a batch with numpy, key by key in
    the order pandas gives: ``value_counts`` unweighted (keys first-seen,
    then by count descending, ties as pandas' quicksort leaves them) and
    ``groupby().sum()`` weighted (keys sorted). The partial state's bytes
    depend on that order. Strings, ints and doubles with -0.0 beside 0.0
    (each kept as first seen), over many small Zipf batches full of ties."""
    def folded(items, weights=None):
        st = MGState(1 << 20)  # never purges: counts hold the fold order
        st.update_batch(items, weights)
        return [(repr(k), v) for k, v in st.counts.items()]

    rng = np.random.default_rng(7)
    for _ in range(300):
        n = int(rng.integers(1, 400))
        ints = rng.zipf(1.3, n) % 60
        weights = rng.integers(1, 6, n)
        for items in (
            ints,
            ints.astype(str).astype(object),
            np.where(rng.random(n) < 0.5, -1.0, 1.0) * (ints % 3) / 4.0,
        ):
            want = pd.Series(items).value_counts()
            assert folded(items) == [(repr(k), int(v)) for k, v in want.items()]
            want = pd.Series(weights).groupby(items).sum()
            assert folded(items, weights) == [(repr(k), int(v)) for k, v in want.items()]
