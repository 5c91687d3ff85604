"""The two stages shared by every two-stage sketch aggregate.

``fold_partials`` is the partial stage, the map-side combine: one
``mapInArrow`` call per input partition folds each group's rows into a
state and emits one partial row per (partition, group). Groups are found
on the exact Arrow key values, compared as Spark groups them (0.0 equal to
-0.0, NaN equal to NaN, null equal to null only), and kept in first-seen
order. The key columns of the partial rows are built from those exact
values, so long keys above 2^53 and NaN keys come back as they went in.

``merge_groups`` is the final stage. It shuffles the partials on the group
columns and sorts each partition on them, the same ``hashpartitioning``
and ``SortExec`` that ``groupBy().applyInPandas`` plans, then walks each
sorted partition's contiguous groups inside one ``mapInArrow`` call. The
Python round trip is paid per Arrow batch, not per group. A group that
spans a batch boundary is carried over to the next batch, so every group
reaches ``final`` with the same rows in the same order as under
``applyInPandas``; order-sensitive merges (KLL, classic, REQ, t-digest)
give the same bytes. The group columns of its output are also set from the
exact Arrow key, since pandas would turn a NaN key into null on the way
back.

The final stage hands ``final`` each group as the pandas frame PySpark's
grouped-map worker would build for it alone. A batch with no null
converts value by value, so it is converted once and sliced; a batch with
a null is converted group by group, since one null turns a long column
into float64 for every row converted with it, which rounds keys and items
above 2^53. The partial stage converts each item column once per batch,
an integer column with a null to exact Python ints, and the family turns
it into per-row numpy arrays (hashes, say) that each group's update takes
a slice of.

``sketch_agg`` runs both stages for a family whose state is one sketch
object per group (KLL, KLL over strings, REQ, classic quantiles, t-digest,
density): ``update_batch`` folds, ``to_row`` emits, ``from_row`` and
``merge`` combine the partials.

``map_rows`` is the one per-row pass over a sketch table, behind every
reader, serde writer and reader, probe and set-op: one ``mapInArrow`` call
that hands a batch-level function the columns it reads, each converted by
the ``_items`` rule (an integer column with a null arrives as exact Python
ints), and adds one column per sequence the function returns. Every other
column passes through in Arrow, untouched, so a long key beside a null key
is not rounded; the columns the function consumed (a blob, a broadcast
filter) can be dropped. ``read_sketches`` is its use for such states: each
row's sketch is decoded once and asked every question.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import (
    ArrayType, DoubleType, FloatType, StringType, StructField, StructType,
)

_NAN = object()  # NaN as a dict key: equal to itself, unlike float("nan")


def _worker_conf(df: DataFrame, schema: StructType | str) -> tuple[str, bool, pa.StructType]:
    """The session time zone, whether pandas → Arrow casts are checked,
    and ``schema`` in Arrow: read on the driver for the Python workers."""
    from pyspark.sql.pandas.types import to_arrow_type

    conf = df.sparkSession.conf
    out_type = to_arrow_type(
        StructType.fromDDL(schema) if isinstance(schema, str) else schema,
        prefers_large_types=conf.get("spark.sql.execution.arrow.useLargeVarTypes") == "true",
    )
    safecheck = conf.get("spark.sql.execution.pandas.convertToArrowArraySafely") == "true"
    return conf.get("spark.sql.session.timeZone"), safecheck, out_type


def _serializer(timezone: str, safecheck: bool):
    """The serializer applyInPandas' workers use, for the same pandas
    dtypes in and the same Arrow casts out."""
    from pyspark.sql.pandas.serializers import GroupPandasUDFSerializer

    return GroupPandasUDFSerializer(timezone, safecheck, True, False)


def notna(df: DataFrame, col: str) -> Column:
    """The rows pandas' ``notna`` keeps, as a Spark filter: ``col`` is not
    null and, in a float column, not NaN."""
    c = F.col(col)
    if isinstance(df.schema[col].dataType, (DoubleType, FloatType)):
        return c.isNotNull() & ~F.isnan(c)
    return c.isNotNull()


def _spark_key(a: pa.Array) -> pa.Array:
    """A key column as Spark groups and returns it: -0.0 as 0.0."""
    return pc.add(a, pa.scalar(0.0, a.type)) if pa.types.is_floating(a.type) else a


def _group_codes(keys: list[pa.Array], n: int) -> tuple[np.ndarray, np.ndarray]:
    """Each row's group as a dense code in first-seen order, and the first
    row of each group (``keys`` as ``_spark_key`` gives them)."""
    code = np.zeros(n, np.int64)
    for i, a in enumerate(keys):
        enc = pc.dictionary_encode(a, null_encoding="encode")
        code = code * len(enc.dictionary) + enc.indices.to_numpy()
        if i:  # back to dense codes, so the next product cannot overflow
            code = pc.dictionary_encode(pa.array(code)).indices.to_numpy().astype(np.int64)
    return code, np.unique(code, return_index=True)[1]


def _items(col: pa.Array, ser) -> pd.Series:
    """A batch's item column as PySpark's pandas conversion gives it, except
    that an integer column with a null holds exact Python ints: pandas
    would make it float64, which rounds values above 2^53."""
    if col.null_count and pa.types.is_integer(col.type):
        return pd.Series(col.to_pylist(), dtype=object)
    return ser.arrow_to_pandas(col, 0)


def fold_partials(
    df: DataFrame,
    group_cols: list[str],
    item_cols: list[str],
    prepare: Callable[..., tuple[np.ndarray, ...]],
    init: Callable[[], Any],
    update: Callable[..., None],
    emit: Callable[[Any], list[dict]],
    schema: StructType | str,
) -> DataFrame:
    """Fold each input partition's rows of ``df`` into one state per group
    and emit the partial rows.

    ``prepare(*items)`` turns an Arrow batch's item columns (pandas Series,
    see ``_items``) into numpy arrays with one entry per row, once per
    batch, so per-row work such as hashing is paid per batch, not per
    group. ``init()`` makes a group's state and ``update(state, *arrays)``
    folds the group's entries of those arrays into it, in row order.
    ``emit(state)`` gives the group's partial rows as dicts of the columns
    of ``schema`` that are not group columns. With no group columns, all
    rows form one group; a partition without rows emits nothing."""
    timezone, safecheck, out_type = _worker_conf(df, schema)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ser = _serializer(timezone, safecheck)
        ids: dict[tuple, int] = {}
        states: list = []
        new_keys: list[list[pa.Array]] = []  # per batch, the keys of its new groups
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            keys = [_spark_key(batch.column(c)) for c in group_cols]
            code, first = _group_codes(keys, n)
            firsts = [k.take(first) for k in keys]
            gids, new = [], []
            tuples = zip(*(f.to_pylist() for f in firsts)) if firsts else [()]
            for j, key in enumerate(tuples):
                key = tuple(_NAN if v != v else v for v in key)
                if key not in ids:
                    ids[key] = len(states)
                    states.append(init())
                    new.append(j)
                gids.append(ids[key])
            if new:
                new_keys.append([f.take(new) for f in firsts])
            arrays = prepare(*(_items(batch.column(c), ser) for c in item_cols))
            if any(len(a) != n for a in arrays):
                raise ValueError("prepare must return one entry per row of the batch")
            # small codes sort by radix: 8x faster than int64 here
            order = np.argsort(code.astype(np.min_scalar_type(len(first))), kind="stable")
            arrays = [a[order] for a in arrays]
            counts = np.bincount(code)
            ends = np.cumsum(counts)
            for g, a, b in zip(gids, ends - counts, ends):
                update(states[g], *(x[a:b] for x in arrays))
        rows, owner = [], []
        for g, st in enumerate(states):
            out = emit(st)
            rows += out
            owner += [g] * len(out)
        if not rows:
            return
        cols = []
        for f in out_type:
            if f.name in group_cols:
                i = group_cols.index(f.name)
                col = pa.concat_arrays([k[i] for k in new_keys]).take(owner)
                cols.append(col.cast(f.type))
            else:
                vals = [r[f.name] for r in rows]
                cols.append(pa.array(vals, f.type, from_pandas=True, safe=safecheck))
        yield pa.RecordBatch.from_arrays(cols, schema=pa.schema(list(out_type)))

    return df.select(*group_cols, *item_cols).mapInArrow(fold, schema)


def _key_changes(keys: list[pa.Array], n: int) -> np.ndarray:
    """True at each row i in 1..n-1 whose key differs from row i - 1,
    compared as Spark groups: on exact values, with 0.0 equal to -0.0,
    NaN to NaN and null to null only."""
    same = np.ones(n - 1, dtype=bool)
    for a in keys:
        x, y = a[1:], a[:-1]
        if pa.types.is_nested(a.type):  # no Arrow kernel compares these
            same &= np.array([p == q for p, q in zip(x.to_pylist(), y.to_pylist())], bool)
            continue
        eq = pc.or_(pc.fill_null(pc.equal(x, y), False), pc.and_(pc.is_null(x), pc.is_null(y)))
        if pa.types.is_floating(a.type):
            eq = pc.or_(eq, pc.fill_null(pc.and_(pc.is_nan(x), pc.is_nan(y)), False))
        same &= eq.to_numpy(zero_copy_only=False)
    return ~same


def _has_nulls(a: pa.Array) -> bool:
    """Whether ``a`` holds a null at any depth (maps and other nested
    types: assumed to)."""
    if a.null_count:
        return True
    if pa.types.is_list(a.type) or pa.types.is_large_list(a.type):
        return _has_nulls(a.flatten())
    if pa.types.is_struct(a.type):
        return any(_has_nulls(f) for f in a.flatten())
    return pa.types.is_nested(a.type)


def merge_groups(
    partials: DataFrame,
    group_cols: list[str],
    final: Callable[[pd.DataFrame], pd.DataFrame],
    schema: StructType | str,
) -> DataFrame:
    """Apply ``final`` to the rows of each group of ``partials``; with no
    group columns, to all rows at once (and not at all on empty input)."""
    timezone, safecheck, out_type = _worker_conf(partials, schema)

    def merge_sorted_groups(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ser = _serializer(timezone, safecheck)

        def to_pandas(pieces: list[pa.RecordBatch]) -> pd.DataFrame:
            table = pa.Table.from_batches(pieces)
            return pd.concat(
                [ser.arrow_to_pandas(c, i) for i, c in enumerate(table.itercolumns())], axis=1
            )

        def groups(batch: pa.RecordBatch, bounds: list) -> list[pd.DataFrame]:
            """The groups ``batch[a:b]`` for (a, b) in ``bounds``, in pandas."""
            if not bounds or any(_has_nulls(c) for c in batch.columns):
                return [to_pandas([batch.slice(a, b - a)]) for a, b in bounds]
            whole = to_pandas([batch])
            return [whole.iloc[a:b].reset_index(drop=True) for a, b in bounds]

        def to_arrow(outs: list[tuple[pd.DataFrame, pa.RecordBatch]]) -> list[pa.RecordBatch]:
            """``final``'s outputs, each with its group's first row, in
            Arrow: converted together when their columns and dtypes agree
            (concatenating them changes nothing), with the group columns
            set to the exact key (pandas would turn a NaN key into null)."""
            outs = [
                (o, [_spark_key(k.column(c)).take(np.zeros(len(o), np.int64)) for c in group_cols])
                for o, k in outs
                if len(o)
            ]
            if len(outs) > 1 and all(o.dtypes.equals(outs[0][0].dtypes) for o, _ in outs):
                outs = [(
                    pd.concat([o for o, _ in outs], ignore_index=True),
                    [pa.concat_arrays(c) for c in zip(*(ks for _, ks in outs))],
                )]
            batches = []
            for o, ks in outs:
                b = pa.RecordBatch.from_struct_array(ser._create_struct_array(o, out_type))
                cols = [
                    ks[group_cols.index(f.name)].cast(f.type) if f.name in group_cols else col
                    for f, col in zip(b.schema, b.columns)
                ]
                batches.append(pa.RecordBatch.from_arrays(cols, schema=b.schema))
            return batches

        open_: list[pa.RecordBatch] = []  # rows of the open group so far
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            keys = [batch.column(c) for c in group_cols]
            if open_:  # compare the first row with the open group's last
                tail = open_[-1].slice(open_[-1].num_rows - 1)
                keys = [pa.concat_arrays([tail.column(c), k]) for c, k in zip(group_cols, keys)]
                starts = np.flatnonzero(_key_changes(keys, n + 1))
            else:
                starts = np.flatnonzero(np.concatenate([[True], _key_changes(keys, n)]))
            if not len(starts):
                open_.append(batch)
                continue
            if starts[0]:
                open_.append(batch.slice(0, starts[0]))
            outs = [(final(to_pandas(open_)), open_[0])] if open_ else []
            bounds = list(zip(starts[:-1], starts[1:]))
            outs += [
                (final(g), batch.slice(a, 1)) for g, (a, _) in zip(groups(batch, bounds), bounds)
            ]
            open_ = [batch.slice(starts[-1])]
            yield from to_arrow(outs)
        if open_:
            yield from to_arrow([(final(to_pandas(open_)), open_[0])])

    if group_cols:
        partials = partials.repartition(*group_cols).sortWithinPartitions(*group_cols)
    else:
        partials = partials.repartition(1)
    return partials.mapInArrow(merge_sorted_groups, schema)


def sketch_agg(
    df: DataFrame,
    group_cols: list[str],
    item_cols: list[str],
    prepare: Callable[..., tuple[np.ndarray, ...]],
    new: Callable[[], Any],
    from_row: Callable[[dict], Any],
    schema: StructType | str,
) -> DataFrame:
    """Both stages for a family whose state is a sketch with
    ``update_batch``, ``merge`` and ``to_row``. The partial stage folds
    each group's rows into ``new()`` (``prepare`` as in ``fold_partials``)
    and emits ``to_row()``; the final merges ``from_row`` of each of the
    group's partial rows into ``new()``, in order, and emits ``to_row()``,
    whose keys are the columns of ``schema`` after the group columns."""
    partials = fold_partials(
        df, group_cols, item_cols, prepare, new,
        lambda sk, *items: sk.update_batch(*items), lambda sk: [sk.to_row()], schema,
    )

    def final(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = new()
        # one Python step per partial sketch (plain dicts, no pandas rows)
        for row in pdf.to_dict("records"):
            sk.merge(from_row(row))
        out = {c: [pdf[c].iloc[0]] for c in group_cols}
        out.update({c: [v] for c, v in sk.to_row().items()})
        return pd.DataFrame(out)

    return merge_groups(partials, group_cols, final, schema)


def _answers(values: Sequence, name: str) -> pd.Series:
    """A batch-level function's output column in pandas: a numpy array
    keeps its dtype; any other sequence is held as objects, so Python
    ints stay exact (a list of ints beside a None would become float64)."""
    if isinstance(values, np.ndarray):
        return pd.Series(values, name=name)
    return pd.Series(values, dtype=object, name=name)


def map_rows(
    df: DataFrame,
    in_cols: list[str],
    fn: Callable[..., Sequence[Sequence]],
    out: list[StructField],
    drop: Iterable[str] = (),
) -> DataFrame:
    """``df`` without the columns ``drop`` and with the columns ``out``,
    each added, or replacing a column of its name in place as
    ``withColumn`` does. For each Arrow batch, ``fn`` gets the batch's
    ``in_cols`` as pandas Series (see ``_items``) and returns one sequence
    per field of ``out``, with one value per row; they are converted to
    Arrow by PySpark's own pandas serializer, as a pandas map would
    convert them. Every other column passes through in Arrow."""
    drop = set(drop)
    kept = [f for f in df.schema.fields if f.name not in drop]
    made = {f.name: f for f in out}
    names = {f.name for f in kept}
    schema = StructType(
        [made.get(f.name, f) for f in kept] + [f for f in out if f.name not in names]
    )
    timezone, safecheck, out_type = _worker_conf(df, schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ser = _serializer(timezone, safecheck)
        for batch in batches:
            if not batch.num_rows:
                continue
            answers = fn(*(_items(batch.column(c), ser) for c in in_cols))
            new = {
                f.name: ser._create_array(
                    _answers(a, f.name), out_type[f.name].type, f.dataType, arrow_cast=True
                )
                for f, a in zip(out, answers)
            }
            cols = [new[f.name] if f.name in new else batch.column(f.name) for f in out_type]
            yield pa.RecordBatch.from_arrays(cols, schema=pa.schema(list(out_type)))

    return df.mapInArrow(run, schema)


def pair_rows(
    df_a: DataFrame,
    df_b: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    pair: Callable[[tuple, tuple], dict],
    out: str,
) -> DataFrame:
    """One row per key of two keyed sketch tables: ``key``, the key
    values as text (``"|".join`` of their ``str``), then the columns of
    the DDL ``out``, read from ``pair(a, b)``. ``a`` and ``b`` hold each
    side's ``value_cols``, all None where that side has no row for the
    key. The sides are full-outer joined on ``key_cols`` null-safely: a
    null key meets a null key, as ``groupBy`` made each one group. With
    no key columns, the (one-row) sides pair up under the key ""."""
    join_cols = key_cols or ["_k"]
    sides = []
    for side, df in (("a", df_a), ("b", df_b)):
        df = df.select(*key_cols, *value_cols)
        if not key_cols:  # global (one-row) sketches: constant join key
            df = df.withColumn("_k", F.lit(1))
        sides.append(df.alias(side))
    on = [F.col(f"a.`{c}`").eqNullSafe(F.col(f"b.`{c}`")) for c in join_cols]
    joined = sides[0].join(sides[1], on, "full_outer").select(
        *(F.coalesce(F.col(f"a.`{c}`"), F.col(f"b.`{c}`")).alias(c) for c in key_cols),
        *(F.col(f"a.`{c}`").alias(f"{c}_a") for c in value_cols),
        *(F.col(f"b.`{c}`").alias(f"{c}_b") for c in value_cols),
    )
    fields = [StructField("key", StringType(), True)] + StructType.fromDDL(out).fields
    nk, nv = len(key_cols), len(value_cols)

    def run(*cols: pd.Series) -> list[list]:
        # one Python step per sketch PAIR (each carrying O(k) numpy
        # work), never per data row
        if key_cols:
            keys = ["|".join(map(str, vals)) for vals in zip(*(c.to_numpy() for c in cols[:nk]))]
        else:
            keys = [""] * len(cols[0])
        a = zip(*(c.to_numpy() for c in cols[nk:nk + nv]))
        b = zip(*(c.to_numpy() for c in cols[nk + nv:]))
        rows = [pair(x, y) for x, y in zip(a, b)]
        return [keys] + [[r[f.name] for r in rows] for f in fields[1:]]

    return map_rows(joined, joined.columns, run, fields, drop=joined.columns)


def read_sketches(
    sketch_df: DataFrame,
    state_cols: list[str],
    answer: Callable[[dict], Any],
    out: StructField,
) -> DataFrame:
    """``sketch_df`` with the column ``out`` added, or replaced in place
    as ``withColumn`` does: in each row, ``answer(state)``, where
    ``state`` maps the row's ``state_cols`` to their values."""

    def read(*states: pd.Series) -> list[list]:
        rows = pd.concat([s.rename(c) for c, s in zip(state_cols, states)], axis=1)
        return [[answer(row) for row in rows.to_dict("records")]]

    return map_rows(sketch_df, state_cols, read, [out])


def read_columns(
    sketch_df: DataFrame,
    prefix: str,
    state_cols: list[str],
    answer: Callable[[dict], list[float]],
    names: list[str],
) -> DataFrame:
    """``sketch_df`` without its columns whose names start with
    ``prefix``, and with one double column per name in ``names``, read
    from ``answer(state)``: the answers leave ``read_sketches`` as one
    array, spread here in Spark."""
    tmp = f"{prefix}answers"
    out = read_sketches(
        sketch_df, state_cols, answer, StructField(tmp, ArrayType(DoubleType()), True)
    )
    keep = [c for c in sketch_df.columns if not c.startswith(prefix)]
    return out.select(*keep, *(out[tmp][i].alias(name) for i, name in enumerate(names)))
