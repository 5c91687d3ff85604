"""Density sketch wire serialization (family 19, serial version 1).

Re-derivation of the reference byte layout
(density/include/density_sketch_impl.hpp:180-215 serialize /
:310-375 deserialize) — NOT a port.  The stream carries the KDE
coreset verbatim (per-level point arrays), so interop is FULL: a blob
written here is consumed by Java/C++ DataSketches deployments with
identical density estimates, and vice versa (the engine's Gaussian
kernel at sigma=sqrt(0.5) IS the reference's default
``exp(-Σ(a-b)²)`` — density_sketch.hpp:34-38).

Layout (little-endian):
    byte 0  preamble_ints   (3 empty / 6 non-empty)
    byte 1  serial version  (1)
    byte 2  family          (19)
    byte 3  flags           (bit 2 = IS_EMPTY)
    u16     k
    u16     unused
    u32     dim
    -- empty sketches end here --
    u32     num_retained
    u64     n
    per level (in order, including empty interior levels):
        u32 level_size; level_size × dim items (T = f4 or f8)

The reference reader consumes levels until num_retained points have
been read, so trailing empty levels are unreachable on the wire; the
writer here never emits them (matching the reference, whose compaction
always leaves the top level non-empty).
"""

from __future__ import annotations

import struct

import numpy as np

_FAMILY = 19
_SER_VER = 1
_F_EMPTY = 1 << 2


class DensitySerdeError(ValueError):
    pass


def serialize_density(
    levels: list[np.ndarray],
    n: int,
    k: int,
    dim: int,
    item_dtype: str = "<f4",
) -> bytes:
    """Level arrays (each (m_h, dim), weight 2^h) + stream length n →
    family-19 density bytes.  ``item_dtype`` "<f4" matches the
    reference's common ``density_sketch<float>``; "<f8" its double
    instantiation."""
    if item_dtype not in ("<f4", "<f8"):
        raise DensitySerdeError(f"unsupported item dtype {item_dtype}")
    if n == 0:
        return struct.pack("<BBBBHHI", 3, _SER_VER, _FAMILY, _F_EMPTY, k, 0, dim)
    # trailing empty levels are not representable on the wire (the
    # reference reader stops at num_retained) — strip them
    last = max(i for i, lv in enumerate(levels) if len(lv))
    levels = levels[: last + 1]
    num_retained = sum(len(lv) for lv in levels)
    out = bytearray()
    out += struct.pack("<BBBBHHI", 6, _SER_VER, _FAMILY, 0, k, 0, dim)
    out += struct.pack("<IQ", num_retained, int(n))
    for lv in levels:
        pts = np.asarray(lv, np.float64).reshape(-1, dim)
        out += struct.pack("<I", len(pts))
        out += pts.astype(item_dtype).tobytes()
    return bytes(out)


def deserialize_density(buf: bytes, item_dtype: str = "<f4") -> dict:
    if item_dtype not in ("<f4", "<f8"):
        raise DensitySerdeError(f"unsupported item dtype {item_dtype}")
    if len(buf) < 12:
        raise DensitySerdeError(f"buffer too short: {len(buf)}")
    pre, sv, family, flags, k, _, dim = struct.unpack_from("<BBBBHHI", buf, 0)
    if family != _FAMILY:
        raise DensitySerdeError(f"not a density sketch (family {family})")
    if sv != _SER_VER:
        raise DensitySerdeError(f"unsupported serial version {sv}")
    if flags & _F_EMPTY:
        if pre != 3:
            raise DensitySerdeError(f"empty sketch with preamble_ints {pre}")
        return {"k": int(k), "dim": int(dim), "n": 0,
                "levels": [np.empty((0, dim), np.float64)]}
    if pre != 6:
        raise DensitySerdeError(f"non-empty sketch with preamble_ints {pre}")
    if len(buf) < 24:
        raise DensitySerdeError("truncated preamble")
    num_retained, n = struct.unpack_from("<IQ", buf, 12)
    item_size = np.dtype(item_dtype).itemsize * dim
    off, to_read, levels = 24, int(num_retained), []
    while to_read > 0:
        if len(buf) < off + 4:
            raise DensitySerdeError("truncated level header")
        (m,) = struct.unpack_from("<I", buf, off)
        off += 4
        if m > to_read:
            raise DensitySerdeError("level size exceeds num_retained")
        if len(buf) < off + m * item_size:
            raise DensitySerdeError("truncated level points")
        pts = np.frombuffer(buf, item_dtype, count=m * dim, offset=off)
        levels.append(pts.astype(np.float64).reshape(m, dim))
        off += m * item_size
        to_read -= m
    if not levels:
        levels = [np.empty((0, dim), np.float64)]
    return {"k": int(k), "dim": int(dim), "n": int(n), "levels": levels}


# ---------------------------------------------------------------------------
# Spark-level export/import (same shape as thetaserde.with_theta_bytes)
# ---------------------------------------------------------------------------


def with_density_bytes(
    sketch_df,
    dim: int,
    k: int,
    out_col: str = "sketch_bytes",
    item_dtype: str = "<f4",
):
    """Append a BinaryType column of reference density blobs to a table
    carrying (ds_levels array<array<double>>, ds_n long) rows — the shape
    `density.density_sketch_agg` emits.  Parquet-writable and consumable
    by any DataSketches deployment."""
    from pyspark.sql.types import BinaryType, StructField

    from ._twostage import map_rows

    def add_bytes(all_levels, ns):
        return [[
            serialize_density(
                [np.asarray(lv, np.float64).reshape(-1, dim) for lv in levels],
                int(n), k, dim, item_dtype=item_dtype,
            )
            for levels, n in zip(all_levels, ns)
        ]]

    return map_rows(
        sketch_df, ["ds_levels", "ds_n"], add_bytes,
        [StructField(out_col, BinaryType(), False)],
    )


def density_from_bytes(blob_df, bytes_col: str = "sketch_bytes", item_dtype: str = "<f4"):
    """Inverse: BinaryType reference density blobs → (ds_levels, ds_n)
    columns consumable by `density.with_density_estimates`."""
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField

    from ._twostage import map_rows

    def parse(blobs):
        states = [deserialize_density(bytes(b), item_dtype=item_dtype) for b in blobs]
        return [
            [[lv.ravel() for lv in s["levels"]] for s in states],
            [s["n"] for s in states],
        ]

    out = [
        StructField("ds_levels", ArrayType(ArrayType(DoubleType(), False), False), False),
        StructField("ds_n", LongType(), False),
    ]
    return map_rows(blob_df, [bytes_col], parse, out, drop=[bytes_col])
