"""``merge_groups`` (the shared final stage of the two-stage sketch
aggregates) against the grouped-map final it replaced,
``groupBy(...).applyInPandas(final)`` with the family's ``final`` behind
a rows <-> pandas adapter: on the same partials every family must give
identical ``toPandas()`` output — including the order-sensitive merges
(KLL, classic, t-digest, REQ), whose bytes depend on the order in which a
group's partial rows reach ``final``. And the groups of both stages
(``fold_partials`` and ``merge_groups``) against Spark's own ``groupBy``."""

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import StructType

from datasketches_cpp_spark.functions import (
    _twostage,
    classic_quantiles,
    classicserde,
    cpc,
    cpcserde,
    density,
    densityserde,
    freq,
    hll,
    hllserde,
    kll_items,
    quantiles,
    req,
    sampling,
    tdigest,
    theta,
    thetaserde,
    tuplesketch,
)


def _reference(partials, group_cols, final, schema):
    """The per-group final every family used before ``merge_groups``:
    Spark's grouped map, ``groupBy().applyInPandas``, running ``final``
    behind a thin rows <-> pandas adapter. The rows are the group's pandas
    rows (``to_dict("records")``: each list as a numpy array, a null double
    as NaN); the group columns are set from the group's first row, as the
    pandas finals set them."""
    names = (StructType.fromDDL(schema) if isinstance(schema, str) else schema).names

    def grouped_map(pdf):
        out = pd.DataFrame(final(pdf.to_dict("records")), columns=names)
        for c in group_cols:
            out[c] = [pdf[c].iloc[0]] * len(out)
        return out

    if group_cols:
        return partials.groupBy(*group_cols).applyInPandas(grouped_map, schema)
    return partials.groupBy(F.lit(1).alias("_g")).applyInPandas(grouped_map, schema)


def _use_reference(m, module):
    """Run ``module``'s final stage as ``_reference``: where the module
    calls ``merge_groups``, or else where ``_twostage.sketch_agg`` does."""
    m.setattr(module if hasattr(module, "merge_groups") else _twostage, "merge_groups", _reference)


FAMILIES = {
    "kll": (quantiles, lambda df, g: quantiles.kll_sketch_agg(df, g, "v", k=16)),
    "classic": (
        classic_quantiles,
        lambda df, g: classic_quantiles.classic_quantiles_agg(df, g, "v", k=8),
    ),
    "tdigest": (tdigest, lambda df, g: tdigest.tdigest_agg(df, g, "v", delta=20)),
    "req": (req, lambda df, g: req.req_sketch_agg(df, g, "v", k=4)),
    "theta": (theta, lambda df, g: theta.theta_sketch_agg(df, g, "item", lg_k=5)),
    "freq": (freq, lambda df, g: freq.frequent_items_agg(df, g, "item", max_map_size=8)),
}


def _canon(v):
    """A value as a hashable, exactly comparable form: arrays as tuples,
    floats by bit pattern (so -0.0 and 0.0, and NaN, stay distinct)."""
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (float, np.floating)):
        return float(v).hex() if not math.isnan(v) else "nan"
    if v is None or v is pd.NA:
        return None
    if isinstance(v, np.generic):
        return v.item()
    return v


def _rows(df, group_cols):
    pdf = df.toPandas()
    rows = [tuple(_canon(v) for v in r) for r in pdf.itertuples(index=False)]
    # output order across groups is not part of the contract; within a
    # group (freq emits several rows) it is
    k = len(group_cols)
    return list(pdf.dtypes.astype(str)), sorted(
        rows, key=lambda r: tuple((x is None, str(x)) for x in r[:k])
    )


def _collected(df):
    """Rows as Spark returns them (``toPandas`` would turn a long column
    with a null into float64), sorted."""
    rows = [tuple(_canon(v) for v in r) for r in df.collect()]
    return sorted(rows, key=lambda r: tuple((v is not None, v if v is not None else 0) for v in r))


def _frame(spark, n=3000, parts=6):
    """Six input partitions, so each group gets several partials; string
    keys with a null; double keys 0.0, -0.0, NaN, null and 1.5."""
    return spark.range(0, n, numPartitions=parts).select(
        F.when(F.col("id") % 7 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 5).cast("string")))
        .alias("g"),
        F.element_at(
            F.array(
                F.lit(0.0), F.lit(-0.0), F.lit(float("nan")), F.lit(None).cast("double"),
                F.lit(1.5),
            ),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("d"),
        ((F.col("id") * 7919) % 1009 / 10.0).alias("v"),
        # half the rows on three heavy items, so freq keeps some
        F.when(F.col("id") % 2 == 0, F.col("id") % 3)
        .otherwise(F.col("id") * 31 % 97)
        .cast("string")
        .alias("item"),
    )


def _same_as_reference(monkeypatch, family, df, group_cols):
    module, agg = FAMILIES[family]
    got = _rows(agg(df, group_cols), group_cols)
    with monkeypatch.context() as m:
        _use_reference(m, module)
        want = _rows(agg(df, group_cols), group_cols)
    assert got == want
    return got


@pytest.mark.parametrize("family", sorted(FAMILIES))
@pytest.mark.parametrize("group_cols", [["d"], ["g", "d"], []])
def test_family_matches_grouped_map(spark, monkeypatch, family, group_cols):
    _, rows = _same_as_reference(monkeypatch, family, _frame(spark), group_cols)
    assert rows


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_null_free_batches_match_grouped_map(spark, monkeypatch, family):
    """Batches without a null key match the grouped map too (the pandas
    finals sliced such a batch from one conversion)."""
    df = _frame(spark).where("g IS NOT NULL AND d IS NOT NULL")
    _same_as_reference(monkeypatch, family, df, ["g", "d"])


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_groups_straddling_arrow_batches(spark, monkeypatch, family):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        _same_as_reference(monkeypatch, family, _frame(spark, n=600), ["g", "d"])
        _same_as_reference(monkeypatch, family, _frame(spark, n=600), [])
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("family", sorted(FAMILIES))
@pytest.mark.parametrize("group_cols", [["g"], []])
def test_empty_input(spark, monkeypatch, family, group_cols):
    empty = _frame(spark).where(F.lit(False))
    _, rows = _same_as_reference(monkeypatch, family, empty, group_cols)
    assert rows == []


@pytest.fixture
def one_shuffle_partition(spark):
    """Every group in one shuffle partition, so groups share Arrow batches."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    yield
    spark.conf.set(key, old)


def _keys_and_rows(rows):
    return [{"xs": [r["x"] for r in rows]}]


def test_null_and_nan_keys_stay_apart(spark, one_shuffle_partition):
    """A null double key and a NaN key are different groups even when
    they sort next to each other in one partition (pandas sees both as
    NaN)."""
    df = spark.createDataFrame(
        [(None, 1), (float("nan"), 2), (None, 3), (float("nan"), 4)],
        "k double, x long",
    ).repartition(1)
    schema = "k double, xs array<long>"
    got = _rows(_twostage.merge_groups(df, ["k"], _keys_and_rows, schema), ["k"])
    want = _rows(_reference(df, ["k"], _keys_and_rows, schema), ["k"])
    assert got == want
    assert sorted(len(r[1]) for r in got[1]) == [2, 2]


BIG = 2**53


def test_long_keys_above_2_53_beside_a_null_key(spark, one_shuffle_partition):
    """Long keys that float64 cannot tell apart stay separate groups and
    come back exact, although a null key shares their batch (which makes
    pandas hold the whole batch's column as float64)."""
    keys = [BIG + 1, BIG + 2, None, BIG + 1, BIG + 3, BIG + 4, BIG]
    df = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "k long, x long"
    ).repartition(1)
    schema = "k long, xs array<long>"
    got = _collected(_twostage.merge_groups(df, ["k"], _keys_and_rows, schema))
    assert got == _collected(_reference(df, ["k"], _keys_and_rows, schema))
    assert got == [
        (None, (2,)),
        (BIG, (6,)), (BIG + 1, (0, 3)), (BIG + 2, (1,)), (BIG + 3, (4,)), (BIG + 4, (5,)),
    ]


NAN = float("nan")
KEY_CASES = {
    # pandas holds a long column with a null as float64, rounding 2^53 + 1
    "long_above_2_53": ("k long", [BIG + 1, BIG + 2, None, BIG + 1, BIG + 3]),
    # pandas sees null and NaN as the same missing value
    "nan_beside_null": ("k double", [NAN, None, 2.0, NAN]),
    # Arrow keeps -0.0 and 0.0 apart, Spark groups (and prints) them as 0.0
    "signed_zeros": ("k double", [-0.0, 0.0, 1.0, -0.0]),
}


@pytest.mark.parametrize("case", sorted(KEY_CASES))
def test_partial_groups_are_spark_groups(spark, one_shuffle_partition, case):
    """Every group of a two-stage aggregate, partial and final, is a group
    of Spark's own ``groupBy``, with the same exact key and row count, also
    when the keys share an Arrow batch; likewise grouped by two columns."""
    ddl, keys = KEY_CASES[case]
    df = spark.createDataFrame(
        [(k, i % 2, float(i)) for i, k in enumerate(keys)], f"{ddl}, j int, x double"
    ).repartition(1)
    for group_cols in (["k"], ["k", "j"]):
        got = quantiles.kll_sketch_agg(df, group_cols, "x").select(*group_cols, "kll_n")
        assert _collected(got) == _collected(df.groupBy(*group_cols).count())


NESTED_KEYS = {
    "array": (
        "k array<double>",
        [[NAN], [NAN], [-0.0], [0.0], None, [None], [1.0, -0.0], [1.0, 0.0], [NAN]],
    ),
    "struct": (
        "k struct<p: double, q: array<double>>",
        [(NAN, [-0.0]), (NAN, [0.0]), (-0.0, [NAN]), (0.0, [NAN]), None, (None, None),
         (NAN, [-0.0])],
    ),
}


def _spark_rows(df):
    """Collected rows in exact form (-0.0 apart from 0.0), sorted."""
    return sorted(repr(_canon(tuple(r))) for r in df.collect())


@pytest.mark.parametrize("case", sorted(NESTED_KEYS))
def test_nested_keys_are_spark_groups(spark, one_shuffle_partition, case):
    """A key that is an array or a struct groups as Spark's ``groupBy``
    groups it, NaN equal to NaN and -0.0 equal to 0.0 at any depth, and
    comes back as Spark returns it (-0.0 as 0.0): through both stages
    (KLL), through the final stage alone on raw rows (the HLL stream
    aggregate), and grouped by two columns."""
    ddl, keys = NESTED_KEYS[case]
    df = spark.createDataFrame(
        [(k, i % 2, float(i)) for i, k in enumerate(keys)], f"{ddl}, j int, x double"
    ).repartition(1)
    for group_cols in (["k"], ["k", "j"]):
        want = df.groupBy(*group_cols).count()
        got = quantiles.kll_sketch_agg(df, group_cols, "x").select(*group_cols, "kll_n")
        assert _spark_rows(got) == _spark_rows(want)
        got = hll.hll_stream_agg(df, group_cols, "x").select(*group_cols)
        assert _spark_rows(got) == _spark_rows(want.select(*group_cols))


def test_key_changes_compare_nested_keys_as_spark():
    """Adjacent nested keys differ where Spark's groups differ: two [NaN]
    keys are one group, and so are [-0.0] and [0.0]."""
    keys = [pa.array([[NAN], [NAN], [-0.0], [0.0], [None], None])]
    assert _twostage._key_changes(keys, 6).tolist() == [False, True, False, True, True]


@pytest.mark.parametrize(
    "module,agg,null_in",
    [
        (hll, hll.hll_stream_agg, "other_group"),
        (cpc, cpc.cpc_stream_agg, "other_group"),
        (theta, theta.theta_sketch_agg, "other_group"),
        (hll, hll.hll_sketch_agg, "other_group"),
        (cpc, cpc.cpc_sketch_agg, "other_group"),
        # exact mode (k >= n): the partial's items come back as its output
        (
            sampling,
            lambda df, g, item: sampling.var_opt_agg(df, g, item, None, k=64),
            "other_group",
        ),
        (hll, hll.hll_stream_agg, "same_group"),
        (cpc, cpc.cpc_stream_agg, "same_group"),
    ],
)
def test_stream_agg_items_above_2_53_beside_a_null_item(
    spark, monkeypatch, one_shuffle_partition, module, agg, null_in
):
    """A null item must not change the long items of its batch (as float64
    they would hash as different values), whether it sits in another group
    or in theirs: the group comes out as it does without the null. A group
    of null items only gives no row. The one-stage stream aggregates hand
    raw items to ``final``, which must also match the grouped-map final."""
    if null_in == "other_group":
        rows = [("a", None), ("a", 7)]
    else:
        rows = [("a", 7), ("b", None), ("c", None)]
    rows += [("b", BIG + i) for i in range(1, 40)]
    df = spark.createDataFrame(rows, "g string, item long").repartition(1)
    got = _collected(agg(df, ["g"], "item"))
    assert sorted({r[0] for r in got}) == ["a", "b"]
    want_b = _collected(agg(df.where("g = 'b' AND item IS NOT NULL"), ["g"], "item"))
    assert [r for r in got if r[0] == "b"] == want_b
    with monkeypatch.context() as m:
        _use_reference(m, module)
        want = _collected(agg(df, ["g"], "item"))
    assert got == want


READERS = {
    "kll": lambda df: quantiles.with_quantiles(quantiles.kll_sketch_agg(df, ["g"], "v"), [0.5]),
    "kll_items": lambda df: kll_items.with_string_quantiles(
        kll_items.kll_string_agg(df.selectExpr("g", "CAST(v AS STRING) AS v"), ["g"], "v"), [0.5]),
    "classic": lambda df: classic_quantiles.with_classic_quantiles(
        classic_quantiles.classic_quantiles_agg(df, ["g"], "v"), [0.5]),
    "req": lambda df: req.with_req_quantiles(req.req_sketch_agg(df, ["g"], "v"), [0.5]),
    "tdigest": lambda df: tdigest.with_tdigest_quantiles(
        tdigest.tdigest_agg(df, ["g"], "v"), [0.5]),
    # the serde round trips: writer, then reader, each a pass over the keys
    "theta_serde": lambda df: thetaserde.theta_from_bytes(
        thetaserde.with_theta_bytes(theta.theta_sketch_agg(df, ["g"], "v")).select(
            "g", "sketch_bytes")),
    "cpc_serde": lambda df: cpcserde.cpc_from_bytes(
        cpcserde.with_cpc_bytes(cpc.cpc_sketch_agg(df, ["g"], "v")).select("g", "sketch_bytes")),
    "classic_serde": lambda df: classicserde.classic_from_bytes(
        classicserde.with_classic_bytes(
            classic_quantiles.classic_quantiles_agg(df, ["g"], "v", k=8), 8
        ).select("g", "sketch_bytes"), 8),
    "density_serde": lambda df: densityserde.density_from_bytes(
        densityserde.with_density_bytes(
            density.density_sketch_agg(
                df.select("g", F.array("v", "v").alias("vec")), ["g"], "vec", 2, k=8), 2, 8
        ).select("g", "sketch_bytes")),
    "hll_serde": lambda df: hllserde.hll_from_bytes(
        hllserde.with_hll_bytes(
            hll.hll_sketch_agg(df, ["g"], "v", lg_k=6, keep_registers=True), 6
        ).select("g", "sketch_bytes"), 6),
}


@pytest.mark.parametrize("family", sorted(READERS))
def test_readers_keep_long_keys_beside_a_null_key(spark, one_shuffle_partition, family):
    """A reader, or a serde writer and reader, passes the key columns
    through as they are: a null key in the same Arrow batch must not turn
    long keys above 2^53 into float64, which rounds them."""
    df = spark.createDataFrame(
        [(BIG + 1, 1.0), (None, 2.0), (BIG + 3, 3.0)], "g long, v double"
    ).repartition(1)
    got = sorted((r["g"] is None, r["g"] or 0) for r in READERS[family](df).collect())
    assert got == [(False, BIG + 1), (False, BIG + 3), (True, 0)]


def test_set_op_keys_are_exact_text(spark, one_shuffle_partition):
    """A set-op writes each key from its exact value: a long key above
    2^53 beside a null key (which joins its counterpart and reads
    'None') is not rounded through float64."""
    rows = [(g, i) for g in (BIG + 1, BIG + 3, None) for i in range(5)]
    df = spark.createDataFrame(rows, "g long, item long").repartition(1)
    sk = theta.theta_sketch_agg(df, ["g"], "item", lg_k=5)
    got = sorted(r["key"] for r in theta.theta_pair_set_ops(sk, sk, ["g"], 32).collect())
    assert got == sorted([str(BIG + 1), str(BIG + 3), "None"])


SET_OPS = {
    "theta": (
        lambda df: theta.theta_sketch_agg(df, ["g"], "item"),
        lambda a, b: theta.theta_pair_set_ops(a, b, ["g"], 4096),
    ),
    "tuple": (
        lambda df: tuplesketch.tuple_sketch_agg(df, ["g"], "item", "w"),
        lambda a, b: tuplesketch.tuple_pair_set_ops(a, b, ["g"], 4096),
    ),
    "array_tuple": (
        lambda df: tuplesketch.array_tuple_sketch_agg(
            df.withColumn("w", F.array("w", "w")), ["g"], "item", "w", 2
        ),
        lambda a, b: tuplesketch.array_tuple_pair_set_ops(a, b, ["g"], 4096, 2),
    ),
}


@pytest.mark.parametrize("family", sorted(SET_OPS))
def test_set_ops_join_a_null_key_to_a_null_key(spark, family):
    """``groupBy`` makes the null keys one group, so a set-op of a table
    with itself meets that group with itself, as every other."""
    agg, op = SET_OPS[family]
    rows = [(g, i, 1.0) for g in ("x", None) for i in range(50)]
    sk = agg(spark.createDataFrame(rows, "g string, item long, w double"))
    got = {r["key"]: r for r in op(sk, sk).collect()}
    assert sorted(got) == ["None", "x"]
    for r in got.values():
        assert (r["est_a"], r["est_b"], r["est_intersection"]) == (50.0, 50.0, 50.0)
    if family == "theta":
        assert got["None"]["jaccard"] == 1.0


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
def test_timestamp_keys_come_back_as_they_went_in(spark, ts_type):
    """A timestamp key, with or without a time zone, comes back unchanged
    through both stages and a row map, in a session whose time zone is
    not UTC."""
    df = spark.createDataFrame(
        [(1704067200, 1.0), (1704070800, 2.0)], "s long, v double"
    ).selectExpr(f"CAST(timestamp_seconds(s) AS {ts_type}) AS g", "v")
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        want = sorted(map(tuple, df.selectExpr("CAST(g AS string)", "v").collect()))
        out = quantiles.with_quantiles(quantiles.kll_sketch_agg(df, ["g"], "v", k=16), [0.5])
        got = sorted(map(tuple, out.selectExpr("CAST(g AS string)", "quantiles[0]").collect()))
    finally:
        spark.conf.set(key, old)
    assert got == want
