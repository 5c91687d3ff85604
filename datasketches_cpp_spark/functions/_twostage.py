"""The two stages shared by every two-stage sketch aggregate.

``fold_partials`` is the partial stage, the map-side combine: one
``mapInArrow`` call per input partition folds each group's rows into a
state and emits one partial row per (partition, group). Groups are found
on the exact Arrow key values, compared as Spark groups them (see below),
and kept in first-seen order. The key columns of the partial rows are
built from those exact values, so long keys above 2^53 and NaN keys come
back as they went in.

``merge_groups`` is the final stage. It shuffles the partials on the group
columns and sorts each partition on them, the same ``hashpartitioning``
and ``SortExec`` that ``groupBy().applyInPandas`` plans, then walks each
sorted partition's contiguous groups inside one ``mapInArrow`` call. The
Python round trip is paid per Arrow batch, not per group. A group that
spans a batch boundary is carried over to the next batch, so every group
reaches ``final`` with the same rows in the same order as under
``applyInPandas``; order-sensitive merges (KLL, classic, REQ, t-digest)
give the same bytes. ``final`` gets the group's rows as dicts, read from
Arrow once per batch, and returns its output rows as dicts; no pandas
frame is built per group. The group columns of the output are set from
the exact Arrow key, so a NaN key or a long key above 2^53 comes back as
it went in.

Both stages compare keys as Spark groups them, also inside an array or
struct key: NaN equal to NaN, -0.0 equal to 0.0 (and returned as 0.0),
null equal to null only. Spark cannot sort a map, so the final stage
refuses a map key.

Every Python pass reads its Arrow columns with ``column_values`` (numpy,
one entry per row) and writes them with ``to_arrow``. The partial stage
reads each item column once per batch; the family turns it into per-row
numpy arrays (hashes, say) that each group's update takes a slice of. A
final's and a reader's rows are the entries of the same arrays.

``sketch_agg`` runs both stages for a family whose state is one sketch
object per group (KLL, KLL over strings, REQ, classic quantiles, t-digest,
density): ``update_batch`` folds, ``to_row`` emits, ``from_row`` and
``merge`` combine the partials.

``map_rows`` is the one per-row pass over a sketch table, behind every
reader, serde writer and reader, probe and set-op: one ``mapInArrow`` call
that hands a batch-level function the columns it reads as numpy arrays
and adds one column per sequence the function returns. Every other
column passes through in Arrow, untouched, so a long key beside a null key
is not rounded; the columns the function consumed (a blob, a broadcast
filter) can be dropped. ``read_sketches`` is its use for such states: each
row's sketch is decoded once and asked every question.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import (
    ArrayType, DoubleType, FloatType, StringType, StructField, StructType,
)

_NAN = object()  # NaN as a dict key: equal to itself, unlike float("nan")


def _worker_conf(df: DataFrame, schema: StructType | str) -> tuple[bool, pa.StructType]:
    """Whether casts to Arrow are checked, and ``schema`` in Arrow with each
    timestamp in the session's time zone, the zone a Python pass reads and
    writes a timestamp's wall-clock time in: read on the driver for the
    Python workers."""
    from pyspark.sql.pandas.types import to_arrow_type

    conf = df.sparkSession.conf
    out_type = to_arrow_type(
        StructType.fromDDL(schema) if isinstance(schema, str) else schema,
        prefers_large_types=conf.get("spark.sql.execution.arrow.useLargeVarTypes") == "true",
    )
    safecheck = conf.get("spark.sql.execution.pandas.convertToArrowArraySafely") == "true"
    tz = conf.get("spark.sql.session.timeZone")
    return safecheck, pa.struct([f.with_type(_zoned_type(f.type, tz)) for f in out_type])


def column_values(a: pa.Array) -> np.ndarray:
    """An Arrow column as every Python pass reads it, one entry per row: a
    list column as numpy slices over its offsets (None for a null list),
    each read by this rule; an integer column with a null as exact Python
    ints (numpy would make it float64, which rounds values above 2^53); a
    timestamp as a naive datetime in the column's time zone, which prints
    as ``2024-01-01 00:00:00``; a date as a date; any other column as
    ``to_numpy`` gives it (a null-free primitive column without a copy, a
    float null as NaN, strings, binary and decimals as objects)."""
    t = a.type
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        flat = column_values(a.values)
        offsets = a.offsets.to_numpy().tolist()
        out = np.empty(len(a), object)
        for i, (p, q) in enumerate(zip(offsets, offsets[1:])):
            out[i] = flat[p:q]
        if a.null_count:
            out[a.is_null().to_numpy(zero_copy_only=False)] = None
        return out
    if pa.types.is_timestamp(t) and t.tz:
        a = pc.local_timestamp(a)
    if pa.types.is_temporal(t) or (pa.types.is_integer(t) and a.null_count):
        out = np.empty(len(a), object)
        out[:] = a.to_pylist()
        return out
    return a.to_numpy(zero_copy_only=False)


def _rows(names: list[str], cols: Iterable[np.ndarray]) -> list[dict]:
    """The rows of ``column_values`` columns as dicts, each entry a Python
    value (``tolist``), so an integer is a Python int."""
    return [dict(zip(names, r)) for r in zip(*(c.tolist() for c in cols))]


def _zoned_type(t: pa.DataType, tz: str | None) -> pa.DataType:
    """``t`` with each zoned timestamp type in it, also a list's, in the
    time zone ``tz`` (naive for None); a naive one stays naive."""
    if pa.types.is_list(t):
        return pa.list_(t.value_field.with_type(_zoned_type(t.value_type, tz)))
    return pa.timestamp(t.unit, tz) if pa.types.is_timestamp(t) and t.tz else t


def _zoned(a: pa.Array, t: pa.DataType) -> pa.Array:
    """``a``, built naive, as ``t``: each naive timestamp read as a
    wall-clock time in ``t``'s time zone (the later one where a clock
    change repeats it)."""
    if a.type == t:
        return a
    if pa.types.is_timestamp(t):
        return pc.assume_timezone(a, t.tz, ambiguous="latest")
    return pa.ListArray.from_arrays(
        a.offsets, _zoned(a.values, t.value_type), type=t, mask=a.is_null()
    )


def to_arrow(values: Sequence, t: pa.DataType, safecheck: bool) -> pa.Array:
    """A column of output values in Arrow, as every Python pass writes it:
    NaN and None as null, and a naive timestamp as ``column_values`` reads
    one, in the column's time zone."""
    return _zoned(pa.array(values, _zoned_type(t, None), from_pandas=True, safe=safecheck), t)


def notna(df: DataFrame, col: str) -> Column:
    """The rows pandas' ``notna`` keeps, as a Spark filter: ``col`` is not
    null and, in a float column, not NaN."""
    c = F.col(col)
    if isinstance(df.schema[col].dataType, (DoubleType, FloatType)):
        return c.isNotNull() & ~F.isnan(c)
    return c.isNotNull()


def _spark_key(a: pa.Array) -> pa.Array:
    """A key column as Spark groups and returns it: -0.0 as 0.0, also
    inside arrays and structs (Spark's ``NormalizeFloatingNumbers``)."""
    t = a.type
    if pa.types.is_floating(t):
        return pc.add(a, pa.scalar(0.0, t))
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return type(a).from_arrays(a.offsets, _spark_key(a.values), type=t, mask=a.is_null())
    if pa.types.is_struct(t):
        fields = [_spark_key(f) for f in a.flatten()]
        return pa.StructArray.from_arrays(fields, fields=list(t), mask=a.is_null())
    return a


def _canon(v: Any) -> Any:
    """A key value (``to_pylist``) as a hashable value that is equal where
    Spark groups equal: NaN equals NaN at any depth (-0.0 already equals
    0.0 in Python); arrays and structs as tuples."""
    if isinstance(v, float):
        return _NAN if v != v else v
    if isinstance(v, (list, tuple)):
        return tuple(map(_canon, v))
    if isinstance(v, dict):
        return tuple(map(_canon, v.values()))
    return v


def _group_codes(keys: list[pa.Array], n: int) -> tuple[np.ndarray, np.ndarray]:
    """Each row's group as a dense code in first-seen order, and the first
    row of each group (``keys`` as ``_spark_key`` gives them)."""
    code = np.zeros(n, np.int64)
    for i, a in enumerate(keys):
        if pa.types.is_nested(a.type):  # no Arrow kernel encodes these
            ids: dict = {}
            a = pa.array([ids.setdefault(_canon(v), len(ids)) for v in a.to_pylist()])
        enc = pc.dictionary_encode(a, null_encoding="encode")
        code = code * len(enc.dictionary) + enc.indices.to_numpy()
        if i:  # back to dense codes, so the next product cannot overflow
            code = pc.dictionary_encode(pa.array(code)).indices.to_numpy().astype(np.int64)
    return code, np.unique(code, return_index=True)[1]


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

    ``prepare(*items)`` turns an Arrow batch's item columns (numpy arrays,
    see ``column_values``) into numpy arrays with one entry per row, once
    per batch, so per-row work such as hashing is paid per batch, not per
    group. ``init()`` makes a group's state and ``update(state, *arrays)``
    folds the group's entries of those arrays into it, in row order.
    ``emit(state)`` gives the group's partial rows as dicts of the columns
    of ``schema`` that are not group columns. With no group columns, all
    rows form one group; a partition without rows emits nothing."""
    safecheck, out_type = _worker_conf(df, schema)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
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
                key = _canon(key)
                if key not in ids:
                    ids[key] = len(states)
                    states.append(init())
                    new.append(j)
                gids.append(ids[key])
            if new:
                new_keys.append([f.take(new) for f in firsts])
            arrays = prepare(*(column_values(batch.column(c)) for c in item_cols))
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
        if rows:
            keys = [pa.concat_arrays(k) for k in zip(*new_keys)]
            yield _to_batch(out_type, group_cols, keys, owner, rows, safecheck)

    return df.select(*group_cols, *item_cols).mapInArrow(fold, schema)


def _to_batch(
    out_type: pa.StructType,
    group_cols: list[str],
    keys: list[pa.Array],
    owner: list[int],
    rows: list[dict],
    safecheck: bool,
) -> pa.RecordBatch:
    """Output rows in Arrow: each group column is ``keys``' entry of the
    row's ``owner`` (the exact key, never through Python), every other
    column is written from the rows' values by ``to_arrow``."""
    cols = []
    for f in out_type:
        if f.name in group_cols:
            cols.append(keys[group_cols.index(f.name)].take(owner).cast(f.type))
        else:
            cols.append(to_arrow([r[f.name] for r in rows], f.type, safecheck))
    return pa.RecordBatch.from_arrays(cols, schema=pa.schema(list(out_type)))


def _key_changes(keys: list[pa.Array], n: int) -> np.ndarray:
    """True at each row i in 1..n-1 whose key differs from row i - 1,
    compared as Spark groups: on exact values, with 0.0 equal to -0.0,
    NaN to NaN and null to null only, at any depth."""
    same = np.ones(n - 1, dtype=bool)
    for a in keys:
        x, y = a[1:], a[:-1]
        if pa.types.is_nested(a.type):  # no Arrow kernel compares these
            vals = list(map(_canon, a.to_pylist()))
            same &= np.array([p == q for p, q in zip(vals[1:], vals)], bool)
            continue
        eq = pc.or_(pc.fill_null(pc.equal(x, y), False), pc.and_(pc.is_null(x), pc.is_null(y)))
        if pa.types.is_floating(a.type):
            eq = pc.or_(eq, pc.fill_null(pc.and_(pc.is_nan(x), pc.is_nan(y)), False))
        same &= eq.to_numpy(zero_copy_only=False)
    return ~same


def merge_groups(
    partials: DataFrame,
    group_cols: list[str],
    final: Callable[[list[dict]], list[dict]],
    schema: StructType | str,
) -> DataFrame:
    """Apply ``final`` to the rows of each group of ``partials``; with no
    group columns, to all rows at once (and not at all on empty input).

    ``final(rows)`` gets the group's rows in order, each a dict of every
    column of ``partials`` (read by ``column_values``), and returns
    the group's output rows as dicts of the columns of ``schema`` that are
    not group columns; those are set from the group's exact key."""
    safecheck, out_type = _worker_conf(partials, schema)

    def finished(done: list[tuple[pa.RecordBatch, list[dict]]]) -> Iterator[pa.RecordBatch]:
        """The output rows of finished groups, each given with the group's
        first row, as one batch."""
        rows = [r for _, out in done for r in out]
        if rows:
            keys = [
                _spark_key(pa.concat_arrays([k.column(c) for k, _ in done])) for c in group_cols
            ]
            owner = [i for i, (_, out) in enumerate(done) for _ in out]
            yield _to_batch(out_type, group_cols, keys, owner, rows, safecheck)

    def merge_sorted_groups(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        open_rows: list[dict] = []  # rows of the open group so far
        first = tail = None  # the open group's first row, the last row read
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            keys = [batch.column(c) for c in group_cols]
            if open_rows:  # compare the first row with the open group's last
                keys = [pa.concat_arrays([tail.column(c), k]) for c, k in zip(group_cols, keys)]
                starts = np.flatnonzero(_key_changes(keys, n + 1)).tolist()
            else:
                starts = np.flatnonzero(np.concatenate([[True], _key_changes(keys, n)])).tolist()
            rows = _rows(batch.schema.names, map(column_values, batch.columns))
            tail = batch.slice(n - 1)
            open_rows += rows[: starts[0] if starts else n]
            if not starts:
                continue
            done = [(first, final(open_rows))] if open_rows else []
            done += [(batch.slice(a, 1), final(rows[a:b])) for a, b in zip(starts, starts[1:])]
            first, open_rows = batch.slice(starts[-1], 1), rows[starts[-1]:]
            yield from finished(done)
        if open_rows:
            yield from finished([(first, final(open_rows))])

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

    def final(rows: list[dict]) -> list[dict]:
        sk = new()
        for row in rows:
            sk.merge(from_row(row))
        return [sk.to_row()]

    return merge_groups(partials, group_cols, final, schema)


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
    ``in_cols`` as numpy arrays (see ``column_values``) and returns one
    sequence per field of ``out``, with one value per row, written by
    ``to_arrow``. Every other column passes through in Arrow."""
    drop = set(drop)
    kept = [f for f in df.schema.fields if f.name not in drop]
    made = {f.name: f for f in out}
    names = {f.name for f in kept}
    schema = StructType(
        [made.get(f.name, f) for f in kept] + [f for f in out if f.name not in names]
    )
    safecheck, out_type = _worker_conf(df, schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if not batch.num_rows:
                continue
            answers = fn(*(column_values(batch.column(c)) for c in in_cols))
            new = {
                f.name: to_arrow(a, out_type[f.name].type, safecheck)
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

    def run(*cols: np.ndarray) -> list[list]:
        # one Python step per sketch PAIR (each carrying O(k) numpy
        # work), never per data row
        if key_cols:
            keys = ["|".join(map(str, vals)) for vals in zip(*cols[:nk])]
        else:
            keys = [""] * len(cols[0])
        a = zip(*cols[nk:nk + nv])
        b = zip(*cols[nk + nv:])
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

    def read(*states: np.ndarray) -> list[list]:
        return [[answer(row) for row in _rows(state_cols, states)]]

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
