"""Physical-plan assertions — the scale discipline made executable.

At 100 TB the plan IS the product: these tests freeze the properties that
make the pipeline viable at scale (column pruning to the parquet scan,
filter pushdown, broadcast for small sides, no Python in JVM-only lanes),
so a refactor that silently regresses one fails CI instead of a cluster.
"""

import re

import pyspark.sql.functions as F
import pytest

from datasketches_cpp_spark.operators.imagededup import phash_pairs
from datasketches_cpp_spark.operators.minhash import compute_signatures
from datasketches_cpp_spark.operators.sigkernel import SigConfig

CFG = SigConfig(num_perm=64, bands=32, kmv_k=128, shingle_w=3, jaccard_threshold=0.5)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_signature_scan_prunes_columns(spark, sf_dir):
    """The caption signature stage must read ONLY (doc_id, text) from the
    parquet scan — dragging unused columns through an Arrow stage is the
    classic 100 TB self-own."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = compute_signatures(docs, "doc_id", "text", CFG, kind="text")
    plan = _plan(sig)
    scan_line = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "doc_id" in scan_line and "text" in scan_line
    for unused in ("url", "lang", "quality"):
        assert unused not in scan_line, f"scan drags unused column {unused}"


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.where(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in plan or (
        "PushedFilters" in plan and "GreaterThan(l_quantity" in plan
    ), plan


def test_phash_lane_is_jvm_only(spark):
    """The pHash lane must contain no Python stages at all — banding,
    pair-gen, and hamming verification are pure Catalyst."""
    from datasketches_cpp_spark.sources.images import generate_images

    images, _ = generate_images(200, seed=3)
    df = spark.createDataFrame(images)
    plan = _plan(phash_pairs(df, CFG))
    for marker in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
                   "MapInPandas", "PythonMapInArrow", "MapInArrow"):
        assert marker not in plan, f"python stage {marker} in pHash lane:\n{plan}"


def test_bloom_probe_broadcasts_filter(spark, sf_dir):
    """might_contain must broadcast the (single-row) filter, never shuffle
    the probe side for the join."""
    from datasketches_cpp_spark.functions.bloom import bloom_filter_agg, might_contain

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    filt = bloom_filter_agg(cust, "c_custkey", 1 << 16, 7)
    probed = might_contain(cust, filt, "c_custkey")
    plan = _plan(probed)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_knn_probes_broadcast(spark, sf_dir):
    from datasketches_cpp_spark.operators.knn import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb.where(F.col("vec_id") < 5)
    plan = _plan(brute_force_topk(emb, probes, "vec_id", "embedding", k=5))
    # r6: small probe sets are shipped in the mapInArrow closure (one
    # numpy scoring stage over the corpus, no join at all); larger probe
    # sets keep the broadcast crossJoin. Either way the corpus must never
    # shuffle before scoring.
    assert (
        "MapInArrow" in plan
        or "BroadcastExchange" in plan
        or "BroadcastNestedLoopJoin" in plan
    ), plan

    from datasketches_cpp_spark.operators.knn import BRUTE_FORCE_COLLECT_PROBES

    # sf0.001 has only 500 embeddings — union past the collect threshold
    big_probes = emb.union(emb).union(emb).limit(BRUTE_FORCE_COLLECT_PROBES + 1)
    plan_big = _plan(brute_force_topk(emb, big_probes, "vec_id", "embedding", k=5))
    assert "BroadcastExchange" in plan_big or "BroadcastNestedLoopJoin" in plan_big


def _assert_partial_exchange_final(plan: str, group_col: str) -> None:
    """Two-stage sketch aggregate shape: exactly two Python map stages,
    the partial fold (MapInArrow) below exactly one Exchange
    (hash-partitioned on the group column) below the final merge
    (MapInArrow)."""
    assert plan.count("MapInArrow") == 2, plan
    assert "MapInPandas" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    # plan strings print top-down: final ≺ exchange ≺ partial
    i_final = plan.find("MapInArrow")
    i_exchange = plan.find("Exchange")
    i_partial = plan.rfind("MapInArrow")
    assert i_final < i_exchange < i_partial, plan
    assert re.search(rf"Exchange hashpartitioning\({group_col}#\d+, \d+\)", plan), plan


def test_theta_partial_agg_shuffles_sketches_not_rows(spark, sf_dir):
    """The two-stage theta agg must place the Python partial BEFORE the
    exchange: the shuffle carries one sketch row per (group, partition),
    never raw rows."""
    from datasketches_cpp_spark.functions.theta import theta_sketch_agg

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    sk = theta_sketch_agg(orders, ["o_orderstatus"], "o_custkey", lg_k=12)
    _assert_partial_exchange_final(_plan(sk), "o_orderstatus")


def test_events_agg_has_partial_aggregation(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    plan = _plan(agg)
    assert plan.count("HashAggregate") >= 2, "missing map-side partial agg"


def test_ebpps_per_row_path_is_jvm_only(spark, sf_dir):
    """ebpps_sample's per-row path (uniform from xxhash64, inclusion filter,
    HT weights) must contain no Python stages — the only driver-side data is
    k+1 doubles for tau."""
    from datasketches_cpp_spark.functions.sampling import ebpps_sample

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    s = ebpps_sample(orders, "o_orderkey", "o_totalprice", k=50)
    plan = _plan(s)
    for marker in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
                   "MapInPandas", "PythonMapInArrow", "MapInArrow"):
        assert marker not in plan, f"python stage {marker} in ebpps plan:\n{plan}"
    assert "xxhash64" in plan.lower()


def test_ngram_jaccard_projects_only_needed_columns(spark, sf_dir):
    """The capped posting join must scan only (doc_id, text) — a scan
    reading all document columns for this 2-column operator is wrong."""
    from datasketches_cpp_spark.operators.textstats import exact_ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = exact_ngram_jaccard_pairs(docs, "doc_id", "text", 0.5, w=2)
    plan = _plan(q)

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "text"}, cols


def test_hll_register_agg_shuffles_sketches_not_rows(spark, sf_dir):
    """hll_sketch_agg (register path): Python partial BEFORE the exchange —
    the shuffle carries one K-byte register row per (group, partition)."""
    from datasketches_cpp_spark.functions.hll import hll_sketch_agg

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    sk = hll_sketch_agg(orders, ["o_orderstatus"], "o_custkey", lg_k=11)
    _assert_partial_exchange_final(_plan(sk), "o_orderstatus")


def test_classic_quantiles_agg_shuffles_sketches_not_rows(spark, sf_dir):
    from datasketches_cpp_spark.functions.classic_quantiles import (
        classic_quantiles_agg,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sk = classic_quantiles_agg(li, ["l_returnflag"], "l_quantity", k=128)
    _assert_partial_exchange_final(_plan(sk), "l_returnflag")


def test_video_containment_plan_shape(spark):
    """The containment lane must keep the twin lane's discipline: no
    cartesian product anywhere, the offset-vote aggregation partial
    (map-side combined) before its exchange, and the pHash payload
    riding the band shuffle (no join back to a frame-level table — the
    only joins are against the video-cardinality frame-count side)."""
    import numpy as np

    from datasketches_cpp_spark.operators.minhash import SigConfig
    from datasketches_cpp_spark.operators.videodedup import video_containment

    g = np.random.default_rng(3)
    rows = [
        (f"v{i}", g.integers(0, 256, 16 * 16 * 3 * 4, dtype=np.uint8).tobytes(),
         16, 16, "rawv")
        for i in range(4)
    ]
    df = spark.createDataFrame(
        rows, "video_id string, bytes binary, w int, h int, fmt string"
    )
    plan = video_containment(df, SigConfig(phash_hamming=6))._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # countDistinct(clip_frame) per (clip, container, dt) must partial-agg
    # below its exchange (HashAggregate appears on both sides)
    assert plan.count("HashAggregate") >= 4, plan


def test_audio_containment_plan_shape(spark):
    """Audio containment: one wide groupBy(landmark) with map-side
    combine feeding JVM array algebra — no cartesian join, no Python
    stage after the landmark kernel."""
    import numpy as np

    from datasketches_cpp_spark.operators.audiodedup import audio_containment

    g = np.random.default_rng(5)
    rows = [
        (f"a{i}", (g.integers(-2000, 2000, 4096)).astype("<i2").tobytes(),
         "pcm16")
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, "audio_id string, bytes binary, fmt string")
    plan = audio_containment(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the timed-landmark kernel must NOT be replayed per consumer: the
    # landmark table is localCheckpointed, so the executed plan contains
    # zero MapInPandas stages (all three consumers scan the checkpoint)
    assert plan.count("MapInPandas") == 0, plan
