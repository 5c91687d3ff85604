"""Driver-side costs of repeated calls: generated-class reuse, the unused
pair-decider broadcast, and job-group propagation to the operators'
concurrent driver actions."""

import pytest

from datasketches_cpp_spark.operators.sigkernel import SigConfig
from datasketches_cpp_spark.sources.images import generate_images

CFG = SigConfig(num_perm=64, bands=32, kmv_k=128, shingle_w=3, jaccard_threshold=0.5)
BYTES_CFG = SigConfig(
    num_perm=64, bands=16, kmv_k=128, shingle_w=16, jaccard_threshold=0.9
)


@pytest.fixture(scope="module")
def images_df(spark):
    images, _ = generate_images(200, seed=23)
    return spark.createDataFrame(images).repartition(4).cache()


def _assignments(images_df):
    from datasketches_cpp_spark.operators.imagededup import dedup_images

    res = dedup_images(images_df, CFG, BYTES_CFG, byte_stride=4)
    return sorted(tuple(r) for r in res["assignments"].collect())


def test_repeated_dedup_images_compiles_no_classes(spark, images_df):
    from datasketches_cpp_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    first = _assignments(images_df)
    before = compiles.getCount()
    second = _assignments(images_df)
    assert compiles.getCount() - before == 0
    assert first == second


def test_unused_decider_broadcast_is_destroyed(spark, images_df, monkeypatch):
    from datasketches_cpp_spark.operators import dedup
    from datasketches_cpp_spark.operators.minhash import compute_signatures

    sig = compute_signatures(images_df, "image_id", "caption", CFG, kind="text")
    sig = sig.drop("mh_sig").localCheckpoint(eager=True)
    sc = spark.sparkContext
    created = []
    original = sc.broadcast

    def spy(value):
        bc = original(value)
        created.append(bc)
        return bc

    monkeypatch.setattr(sc, "broadcast", spy)
    pairs = dedup.candidate_pairs_adaptive(sig, CFG, use_simhash=True)
    assert created, "the decider should have broadcast the sig table"
    # low volume: the JVM expansion ran and the decider went unused
    assert all(bc._jbroadcast is None or not bc._jbroadcast.isValid() for bc in created)
    assert pairs.count() > 0


def test_dedup_images_jobs_carry_the_callers_group(spark, images_df):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("driver-actions-test", "dedup_images under a job group")
    try:
        _assignments(images_df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert tracker.getJobIdsForGroup("driver-actions-test")
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped


def test_repeated_dedup_images_leaves_no_broadcast_valid(spark, images_df, monkeypatch):
    """Each call's substring lane broadcasts its bitmap index; once the
    lane is checkpointed the index is destroyed, so repeated calls in one
    session accumulate no live broadcasts."""
    sc = spark.sparkContext
    created = []
    original = sc.broadcast

    def spy(value):
        bc = original(value)
        created.append(bc)
        return bc

    monkeypatch.setattr(sc, "broadcast", spy)
    results = [_assignments(images_df) for _ in range(3)]
    assert results[0] == results[1] == results[2]
    assert len(created) >= 3, "each call's substring lane should broadcast its index"
    assert [bc for bc in created if bc._jbroadcast is not None and bc._jbroadcast.isValid()] == []
