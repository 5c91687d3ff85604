"""Generic-item KLL sketch — the analog of the reference's templated
``kll_sketch<T, C, SerDe>`` (kll_sketch.hpp:171-191) for non-numeric item
types, concretely strings (the reference's own second-most-used
configuration, kll_sketch_test string sections / serde.hpp:60-175
length-prefixed string serde). Re-derived, not ported: it is
functions/quantiles.KllSketch (ceil(k·(2/3)^depth) level caps, unbiased
offset halving, the shared sorted view) over numpy object arrays with
Python ordering — any totally-ordered item type works; strings are the
tested and Spark-wired case.

Wire format: identical preamble/level-offset layout to kllserde.py
(family 15, v1 full / v2 single-item), with items encoded by the
reference's string serde: uint32 LE byte length + UTF-8 bytes per item
(serde.hpp:139-175), min/max items included in stream order. Reader and
writer agree on the item type out-of-band, exactly like the reference.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, StringType, StructField

from .quantiles import KllSketch, _sketch_fields
from ._twostage import read_sketches, sketch_agg

DEFAULT_K = 200


class KllItemSketch(KllSketch):
    """KLL over arbitrary totally-ordered Python items (object ndarray):
    KllSketch's compaction, sorted view and getters over object levels,
    with min and max None while empty."""

    __slots__ = ()

    def __init__(self, k: int = DEFAULT_K, seed: int = 9001):
        super().__init__(k, seed)
        self.levels = [np.empty(0, object)]
        self.min_item = None
        self.max_item = None

    # -- update ---------------------------------------------------------------
    def update_batch(self, items) -> None:
        arr = np.asarray([x for x in items if x is not None], object)
        if len(arr) == 0:
            return
        self.n += len(arr)
        lo, hi = min(arr), max(arr)
        self.min_item = lo if self.min_item is None else min(self.min_item, lo)
        self.max_item = hi if self.max_item is None else max(self.max_item, hi)
        self.levels[0] = np.concatenate([self.levels[0], arr])
        self._compress()

    # -- merge ----------------------------------------------------------------
    def merge(self, other: "KllItemSketch") -> None:
        assert self.k == other.k, "merging sketches with different k"
        if other.n == 0:
            return
        self.n += other.n
        if self.min_item is None or other.min_item < self.min_item:
            self.min_item = other.min_item
        if self.max_item is None or other.max_item > self.max_item:
            self.max_item = other.max_item
        self._add_levels(other)

    # -- Spark row serde --------------------------------------------------------
    def to_row(self) -> dict:
        return {
            "kll_n": self.n,
            "kll_min": self.min_item,
            "kll_max": self.max_item,
            "kll_levels": [list(b) for b in self.levels],
        }

    @classmethod
    def from_row(cls, k: int, seed: int, row) -> "KllItemSketch":
        sk = cls(k, seed)
        sk.n = int(row["kll_n"])
        sk.min_item = row["kll_min"]
        sk.max_item = row["kll_max"]
        sk.levels = [np.asarray(list(b), object) for b in row["kll_levels"]]
        if not sk.levels:
            sk.levels = [np.empty(0, object)]
        return sk


# ---------------------------------------------------------------------------
# Wire serde: family-15 layout + length-prefixed string items
# (kllserde.py layout constants; serde.hpp:139-175 string encoding)
# ---------------------------------------------------------------------------

_FAMILY = 15
_SV_FULL = 1
_SV_SINGLE = 2
_M = 8
_F_EMPTY = 0
_F_LEVEL_ZERO_SORTED = 1
_F_SINGLE_ITEM = 2


class KllItemSerdeError(ValueError):
    pass


def _enc_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack("<I", len(b)) + b


def _dec_str(buf: bytes, off: int) -> tuple[str, int]:
    if len(buf) < off + 4:
        raise KllItemSerdeError("truncated string length")
    (ln,) = struct.unpack_from("<I", buf, off)
    off += 4
    if len(buf) < off + ln:
        raise KllItemSerdeError("truncated string payload")
    return buf[off : off + ln].decode("utf-8"), off + ln


def serialize_kll_strings(sk: KllItemSketch) -> bytes:
    """KllItemSketch[str] → reference-layout bytes (string serde)."""
    from .kllserde import _total_capacity

    if sk.n == 0:
        return struct.pack("<BBBBHBB", 2, _SV_FULL, _FAMILY, 1 << _F_EMPTY,
                           sk.k, _M, 0)
    levels = [np.sort(b, kind="stable") for b in sk.levels]
    retained = sum(len(b) for b in levels)
    if sk.n == 1:
        head = struct.pack("<BBBBHBB", 2, _SV_SINGLE, _FAMILY,
                           (1 << _F_SINGLE_ITEM) | (1 << _F_LEVEL_ZERO_SORTED),
                           sk.k, _M, 0)
        item = next(b for b in levels if len(b))[0]
        return head + _enc_str(str(item))
    num_levels = len(levels)
    capacity = _total_capacity(sk.k, _M, num_levels)
    if retained > capacity:
        raise KllItemSerdeError(
            f"retained {retained} exceeds capacity {capacity}"
        )
    out = bytearray()
    out += struct.pack("<BBBBHBB", 5, _SV_FULL, _FAMILY,
                       1 << _F_LEVEL_ZERO_SORTED, sk.k, _M, 0)
    out += struct.pack("<QHBB", sk.n, sk.k, num_levels, 0)
    offsets = [capacity - retained]
    for b in levels:
        offsets.append(offsets[-1] + len(b))
    out += np.asarray(offsets[:num_levels], "<u4").tobytes()
    out += _enc_str(str(sk.min_item)) + _enc_str(str(sk.max_item))
    for b in levels:
        for item in b:
            out += _enc_str(str(item))
    return bytes(out)


def deserialize_kll_strings(buf: bytes, seed: int = 9001) -> KllItemSketch:
    from .kllserde import _total_capacity

    if len(buf) < 8:
        raise KllItemSerdeError(f"buffer too short: {len(buf)}")
    preamble_ints, sv, family, flags, k, m, _ = struct.unpack_from("<BBBBHBB", buf, 0)
    if family != _FAMILY:
        raise KllItemSerdeError(f"not a KLL sketch (family {family})")
    if sv not in (_SV_FULL, _SV_SINGLE):
        raise KllItemSerdeError(f"unsupported serial version {sv}")
    if m != _M:
        raise KllItemSerdeError(f"unsupported m {m}")
    sk = KllItemSketch(k, seed)
    if flags & (1 << _F_EMPTY):
        return sk
    if flags & (1 << _F_SINGLE_ITEM):
        item, _ = _dec_str(buf, 8)
        sk.update_batch([item])
        return sk
    if len(buf) < 20:
        raise KllItemSerdeError("truncated full preamble")
    n, _min_k, num_levels, _ = struct.unpack_from("<QHBB", buf, 8)
    off = 20
    if len(buf) < off + 4 * num_levels:
        raise KllItemSerdeError("truncated level offsets")
    offsets = np.frombuffer(buf, "<u4", count=num_levels, offset=off).astype(np.int64)
    off += 4 * num_levels
    mn, off = _dec_str(buf, off)
    mx, off = _dec_str(buf, off)
    capacity = _total_capacity(k, m, num_levels)
    bounds = np.append(offsets, capacity)
    retained = int(capacity - offsets[0])
    items = []
    for _ in range(retained):
        s, off = _dec_str(buf, off)
        items.append(s)
    items_arr = np.asarray(items, object)
    sk.n = int(n)
    sk.min_item = mn
    sk.max_item = mx
    sk.levels = [
        items_arr[int(bounds[i] - bounds[0]) : int(bounds[i + 1] - bounds[0])].copy()
        for i in range(num_levels)
    ]
    return sk


# ---------------------------------------------------------------------------
# Spark two-stage aggregate over a string column
# ---------------------------------------------------------------------------


def kll_string_agg(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    k: int = DEFAULT_K,
    seed: int = 9001,
) -> DataFrame:
    """groupBy(group_cols).kll<string>(item_col): partial sketch per input
    partition → shuffle of sketch rows only → final merge (the same
    two-stage discipline as kll_sketch_agg; shuffles carry O(k·log(n/k))
    strings per group, never raw rows)."""
    group_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name in group_cols
    )
    prefix = f"{group_fields}, " if group_fields else ""
    schema = (
        f"{prefix}kll_n long, kll_min string, kll_max string, "
        "kll_levels array<array<string>>"
    )

    return sketch_agg(
        df, group_cols, [item_col], lambda s: (s,), lambda: KllItemSketch(k, seed),
        lambda row: KllItemSketch.from_row(k, seed, row), schema,
    )


def with_string_quantiles(
    sketch_df: DataFrame, ranks: list[float], k: int = DEFAULT_K, seed: int = 9001,
    out_col: str = "quantiles",
) -> DataFrame:
    """Append array<string> of quantile estimates at the given ranks."""
    return read_sketches(
        sketch_df, [f.name for f in _sketch_fields()],
        lambda row: KllItemSketch.from_row(k, seed, row).get_quantiles(ranks),
        StructField(out_col, ArrayType(StringType()), True),
    )
