"""The final-merge stage shared by every two-stage sketch aggregate.

Each family folds its input per partition into partial sketch rows (a
``mapInPandas`` map-side combine) and then merges the partials of each
group into one sketch. ``merge_groups`` is that merge. It shuffles the
partials on the group columns and sorts each partition on them, the same
``hashpartitioning`` and ``SortExec`` that ``groupBy().applyInPandas``
plans, then walks each sorted partition's contiguous groups inside one
``mapInArrow`` call. The Python round trip is paid per Arrow batch, not
per group. A group that spans a batch boundary is carried over to the
next batch, so every group reaches ``final`` with the same rows in the
same order as under ``applyInPandas``; order-sensitive merges (KLL,
classic, REQ, t-digest) give the same bytes.

Group boundaries are found on the Arrow values, and each group reaches
``final`` as the pandas frame PySpark's grouped-map worker would build
for it alone. A batch with no null at any depth converts row by row, so
it is converted once and sliced; a batch with a null is converted group
by group, since one null turns a long column into float64 for every row
converted with it, which rounds keys and items above 2^53.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


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
    from pyspark.sql.pandas.serializers import GroupPandasUDFSerializer
    from pyspark.sql.pandas.types import to_arrow_type

    conf = partials.sparkSession.conf
    timezone = conf.get("spark.sql.session.timeZone")
    safecheck = conf.get("spark.sql.execution.pandas.convertToArrowArraySafely") == "true"
    out_type = to_arrow_type(
        StructType.fromDDL(schema) if isinstance(schema, str) else schema,
        prefers_large_types=conf.get("spark.sql.execution.arrow.useLargeVarTypes") == "true",
    )

    def merge_sorted_groups(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # the serializer applyInPandas' workers use, for the same pandas
        # dtypes in and the same Arrow casts out
        ser = GroupPandasUDFSerializer(timezone, safecheck, True, False)

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

        def to_arrow(outs: list[pd.DataFrame]) -> list[pa.RecordBatch]:
            """``final``'s outputs in Arrow: converted together when their
            columns and dtypes agree (concatenating them changes nothing)."""
            outs = [o for o in outs if len(o)]
            if len(outs) > 1 and all(o.dtypes.equals(outs[0].dtypes) for o in outs):
                outs = [pd.concat(outs, ignore_index=True)]
            return [
                pa.RecordBatch.from_struct_array(ser._create_struct_array(o, out_type))
                for o in outs
            ]

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
            outs = [final(to_pandas(open_))] if open_ else []
            outs += [final(g) for g in groups(batch, list(zip(starts[:-1], starts[1:])))]
            open_ = [batch.slice(starts[-1])]
            yield from to_arrow(outs)
        if open_:
            yield from to_arrow([final(to_pandas(open_))])

    if group_cols:
        partials = partials.repartition(*group_cols).sortWithinPartitions(*group_cols)
    else:
        partials = partials.repartition(1)
    return partials.mapInArrow(merge_sorted_groups, schema)
