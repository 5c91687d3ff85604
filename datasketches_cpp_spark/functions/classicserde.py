"""Classic quantiles sketch wire serialization — family 8, the family the
reference explicitly keeps Java-binary-compatible (quantiles_sketch.hpp:37
"binary compatible with the java version"), re-derived from
quantiles_sketch_impl.hpp:277-458 (serialize / deserialize), NOT copied.

Current (v3) layout, little-endian, doubles item type:

    byte 0   preamble_longs   1 (empty) or 2
    byte 1   serial version   3
    byte 2   family           8
    byte 3   flags            bit2 IS_EMPTY | bit3 IS_COMPACT |
                              bit4 IS_SORTED (quantiles_sketch.hpp:506)
    byte 4-5 k (uint16)
    byte 6-7 unused
    [empty] end.
    uint64 n @8
    float64 min @16, float64 max @24
    base buffer: (n mod 2k) float64 items (compact; sorted when the
      IS_SORTED flag is set — the reference always sorts on serialize)
    levels: for each set bit i (ascending) of bit_pattern = n div 2k,
      exactly k float64 items carrying weight 2^(i+1)

Legacy read paths, mirroring the version dispatch at
quantiles_sketch_impl.hpp:372-456 (the formats of the reference's own
golden binaries quantiles/test/Qk128_n{50,1000}_v0.{3,6,8}.*.sk):

    v1 (Java v0.3.0): an extra unused uint64 follows min/max, and the
       base buffer is stored NON-compact — when any levels exist the
       full 2k slots are present (trailing garbage beyond the live
       bb_items is read and discarded; when no levels exist the file may
       carry allocation padding beyond bb_items which is simply ignored).
    v2 (Java v0.6.0): compact implied by the version (deserialize:394).
    v3 reads compact/sorted from the flags byte.

The n→structure law is shared with functions/classic_quantiles.py:
bit_pattern = n // 2k, bb_items = n % 2k — the state IS the serialized
form, so serde is a direct reshape, no re-sketching.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .classic_quantiles import ClassicQuantilesSketch, _sketch_fields

_FAMILY = 8
_SERIAL_VERSION = 3
_F_EMPTY = 2
_F_COMPACT = 3
_F_SORTED = 4


class ClassicSerdeError(ValueError):
    pass


def _structure(k: int, n: int) -> tuple[int, int, int]:
    """(bb_items, bit_pattern, levels_needed) — the reference's
    compute_base_buffer_items / compute_bit_pattern / compute_levels_needed."""
    bb_items = n % (2 * k)
    bit_pattern = n // (2 * k)
    return bb_items, bit_pattern, bit_pattern.bit_length()


def serialize_classic(sk: ClassicQuantilesSketch) -> bytes:
    """ClassicQuantilesSketch → reference-compatible v3 bytes (compact,
    sorted base buffer — the reference's serialize always does both)."""
    if sk.n == 0:
        return struct.pack("<BBBBHH", 1, _SERIAL_VERSION, _FAMILY,
                           1 << _F_EMPTY, sk.k, 0)
    bb_items, bit_pattern, levels_needed = _structure(sk.k, sk.n)
    if len(sk.base) != bb_items:
        raise ClassicSerdeError(
            f"inconsistent sketch: n={sk.n} implies {bb_items} base items, "
            f"found {len(sk.base)}"
        )
    out = bytearray()
    out += struct.pack("<BBBBHH", 2, _SERIAL_VERSION, _FAMILY,
                       (1 << _F_COMPACT) | (1 << _F_SORTED), sk.k, 0)
    out += struct.pack("<Qdd", sk.n, sk.min_item, sk.max_item)
    # stable: identity on already-sorted buffers -> byte isomorphism over ±0.0
    out += np.sort(np.asarray(sk.base, np.float64), kind="stable").astype("<f8").tobytes()
    for i in range(levels_needed):
        if bit_pattern & (1 << i):
            lvl = sk.levels[i] if i < len(sk.levels) else None
            if lvl is None or len(lvl) != sk.k:
                raise ClassicSerdeError(
                    f"bit_pattern says level {i} is valid but sketch has "
                    f"{0 if lvl is None else len(lvl)} items there"
                )
            out += np.asarray(lvl, "<f8").tobytes()
    return bytes(out)


def _read_doubles(buf: bytes, off: int, count: int) -> tuple[np.ndarray, int]:
    need = off + 8 * count
    if len(buf) < need:
        raise ClassicSerdeError(
            f"truncated items: need {need} bytes, have {len(buf)}"
        )
    return np.frombuffer(buf, "<f8", count=count, offset=off), need


def deserialize_classic(buf: bytes, seed: int = 9001) -> ClassicQuantilesSketch:
    """v1/v2/v3 bytes → ClassicQuantilesSketch, mirroring the reference's
    version dispatch; fails fast on family mismatch and truncation."""
    if len(buf) < 8:
        raise ClassicSerdeError(f"buffer too short for preamble: {len(buf)}")
    preamble_longs, sv, family, flags, k, _ = struct.unpack_from("<BBBBHH", buf, 0)
    if family != _FAMILY:
        raise ClassicSerdeError(f"not a classic quantiles sketch (family {family})")
    if sv not in (1, 2, 3):
        raise ClassicSerdeError(f"unsupported serial version {sv}")
    if k < 2 or (k & (k - 1)) != 0:
        raise ClassicSerdeError(f"corrupt k {k}")
    sk = ClassicQuantilesSketch(k, seed)
    is_empty = bool(flags & (1 << _F_EMPTY)) if sv != 1 else preamble_longs == 1
    if is_empty:
        return sk
    if len(buf) < 32:
        raise ClassicSerdeError("truncated preamble (n/min/max)")
    (n,) = struct.unpack_from("<Q", buf, 8)
    mn, mx = struct.unpack_from("<dd", buf, 16)
    off = 32
    if sv == 1:
        off += 8  # the "no longer used" uint64 (deserialize:414)
    is_compact = (sv == 2) or bool(flags & (1 << _F_COMPACT))
    bb_items, bit_pattern, levels_needed = _structure(k, n)
    base, off = _read_doubles(buf, off, bb_items)
    if not is_compact and levels_needed > 0 and bb_items < 2 * k:
        # non-compact v1: the full 2k base slots are present; discard tail
        _, off = _read_doubles(buf, off, 2 * k - bb_items)
    levels: list[np.ndarray | None] = []
    for i in range(levels_needed):
        if bit_pattern & (1 << i):
            lvl, off = _read_doubles(buf, off, k)
            levels.append(lvl.copy())
        else:
            levels.append(None)
    sk.n = int(n)
    sk.min_item = float(mn)
    sk.max_item = float(mx)
    sk.base = base.copy()
    sk.levels = levels
    return sk


# ---------------------------------------------------------------------------
# Spark-level export/import (same shape as thetaserde.with_theta_bytes)
# ---------------------------------------------------------------------------


def with_classic_bytes(sketch_df, k: int, out_col: str = "sketch_bytes",
                       seed: int = 9001):
    """Append a BinaryType column of reference-wire family-8 blobs to a
    classic-quantiles sketch table (the row shape classic_quantiles_agg
    emits). The written parquet is directly consumable by any Java/C++
    DataSketches deployment standardized on the classic k=128 family."""
    from pyspark.sql.types import BinaryType, StructField

    from ._twostage import map_rows

    state_cols = [f.name for f in _sketch_fields()]

    def add_bytes(*states):
        return [[
            serialize_classic(ClassicQuantilesSketch.from_row(k, seed, dict(zip(state_cols, row))))
            for row in zip(*states)
        ]]

    return map_rows(
        sketch_df, state_cols, add_bytes, [StructField(out_col, BinaryType(), False)]
    )


def classic_from_bytes(blob_df, k: int, bytes_col: str = "sketch_bytes",
                       seed: int = 9001):
    """Inverse: BinaryType family-8 blobs (any of v1/v2/v3) → the engine's
    classic sketch row shape, mergeable/queryable by classic_quantiles.*."""
    from ._twostage import map_rows

    out = _sketch_fields()

    def parse(blobs):
        rows = [deserialize_classic(bytes(b), seed).to_row() for b in blobs]
        return [[r[f.name] for r in rows] for f in out]

    return map_rows(blob_df, [bytes_col], parse, out, drop=[bytes_col])
