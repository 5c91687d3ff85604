"""Theta compact-sketch v3 byte serialization — the wire format of
Apache DataSketches (theta/include/theta_sketch_impl.hpp:378-398 serialize,
compact_theta_sketch_parser.hpp:1-73 parse), re-derived so sketches built
by THIS engine can be exchanged with Java/C++ datasketches deployments and
vice versa.

Layout (little-endian, 8-byte preamble words):

    byte 0   preamble_longs   3 if estimation mode else (1 if empty or a
                              single entry else 2)
    byte 1   serial version   3 (uncompressed)
    byte 2   sketch type      3 (compact theta)
    byte 3-4 unused           0
    byte 5   flags            bit1 READ_ONLY | bit2 EMPTY | bit3 COMPACT |
                              bit4 ORDERED (we always write ordered)
    byte 6-7 seed hash        murmur3(seed bytes, seed=0) & 0xFFFF
    [preamble_longs > 1] uint32 num_entries, uint32 unused
    [estimation mode]    uint64 theta
    entries              num_entries × uint64 (sorted ascending)

Deserialization is zero-copy over the entries region (np.frombuffer) — the
analog of the reference's wrapped compact sketch (theta_sketch.hpp:542).

v4 (COMPRESSED_SERIAL_VERSION, theta_sketch_impl.hpp:461-560) is also
produced/consumed: consecutive-entry deltas packed at a single bit width
(bit_length of the OR of all deltas), MSB-first per bit_packing.hpp —
vectorized here as a numpy bit-matrix + np.packbits, cross-checked in
tests against a direct transliteration of the reference's scalar
pack_bits loop. `serialize_compressed` mirrors the reference's
is_suitable_for_compression gate (v4 when ordered and non-trivial, else
v3); `deserialize_compact` dispatches on the stream's version byte.

Legacy v1/v2 streams (the formats pre-0.10 datasketches-java wrote, and
the format of the reference's own golden test binaries
theta/test/theta_compact_*_from_java_v{1,2}.sk) are read-only supported,
mirroring theta_sketch_impl.hpp:588-644 deserialize_v1/_v2:

    v1: bytes 0-2 preamble_longs/version/type, bytes 3-7 unused,
        uint32 num_entries @8, bytes 12-15 unused (the old float p),
        uint64 theta @16, entries @24. No seed hash; empty ⇔
        num_entries==0 ∧ theta==MAX_THETA.
    v2: bytes 0-2 as above, byte 3 unused, bytes 4-5 unused,
        uint16 seed_hash @6 (checked); preamble_longs selects the rest:
        1 → empty; 2 → uint32 num_entries @8, entries @16, exact mode;
        3 → uint32 num_entries @8, uint64 theta @16, entries @24.
"""

from __future__ import annotations

import struct

import numpy as np

from ..hashing import DEFAULT_SEED, seed_hash
from ..kmv import MAX_THETA

_SERIAL_VERSION = 3
_SKETCH_TYPE = 3
# flag bit positions (theta_sketch.hpp:495 enum flags)
_F_READ_ONLY = 1
_F_EMPTY = 2
_F_COMPACT = 3
_F_ORDERED = 4


class ThetaSerdeError(ValueError):
    pass


def serialize_compact_v3(
    theta: int, sig: np.ndarray, seed: int = DEFAULT_SEED
) -> bytes:
    """(theta, sorted uint64 entries) → reference-compatible v3 bytes.
    theta may be passed encoded (-1 ⇔ MAX_THETA / exact mode)."""
    theta = MAX_THETA if theta < 0 else int(theta)
    entries = np.ascontiguousarray(np.asarray(sig, np.int64).view(np.uint64))
    if len(entries) > 1 and not (entries[:-1] < entries[1:]).all():
        raise ThetaSerdeError("entries must be strictly ascending")
    n = len(entries)
    is_empty = n == 0 and theta >= MAX_THETA
    estimation = theta < MAX_THETA
    preamble_longs = 3 if estimation else (1 if (is_empty or n == 1) else 2)
    flags = (
        (1 << _F_COMPACT)
        | (1 << _F_READ_ONLY)
        | ((1 << _F_EMPTY) if is_empty else 0)
        | (1 << _F_ORDERED)
    )
    out = bytearray()
    out += struct.pack(
        "<BBBHBH", preamble_longs, _SERIAL_VERSION, _SKETCH_TYPE, 0, flags,
        seed_hash(seed),
    )
    if preamble_longs > 1:
        out += struct.pack("<II", n, 0)
    if estimation:
        out += struct.pack("<Q", theta)
    out += entries.astype("<u8", copy=False).tobytes()
    return bytes(out)


def deserialize_compact_v3(
    buf: bytes, seed: int = DEFAULT_SEED
) -> tuple[int, np.ndarray]:
    """Reference v3 bytes → (theta [-1 ⇔ exact], sorted int64 entries).
    Validates version / type / seed hash and fails fast on truncation,
    mirroring the reference's deserialize hardening
    (common/test/deserialize_hardening_test.cpp discipline)."""
    if len(buf) < 8:
        raise ThetaSerdeError(f"buffer too short for preamble: {len(buf)} bytes")
    preamble_longs, ver, typ, _, flags, sh = struct.unpack_from("<BBBHBH", buf, 0)
    if ver != _SERIAL_VERSION:
        raise ThetaSerdeError(f"unsupported serial version {ver} (expected 3)")
    if typ != _SKETCH_TYPE:
        raise ThetaSerdeError(f"not a compact theta sketch (type {typ})")
    if sh != seed_hash(seed):
        raise ThetaSerdeError(
            f"seed hash mismatch: stream {sh:#06x} vs seed {seed} "
            f"-> {seed_hash(seed):#06x}"
        )
    is_empty = bool(flags & (1 << _F_EMPTY))
    off = 8
    if preamble_longs > 1:
        if len(buf) < off + 8:
            raise ThetaSerdeError("truncated preamble (num_entries)")
        (n,) = struct.unpack_from("<I", buf, off)
        off += 8
    else:
        n = 0 if is_empty else 1
    if preamble_longs == 3:
        if len(buf) < off + 8:
            raise ThetaSerdeError("truncated preamble (theta)")
        (theta,) = struct.unpack_from("<Q", buf, off)
        off += 8
    else:
        theta = MAX_THETA
    need = off + 8 * n
    if len(buf) < need:
        raise ThetaSerdeError(
            f"truncated entries: need {need} bytes, have {len(buf)}"
        )
    entries = np.frombuffer(buf, dtype="<u8", count=n, offset=off)
    return (-1 if theta >= MAX_THETA else int(theta)), entries.view(np.int64)


# ---------------------------------------------------------------------------
# v4 (compressed, delta-bit-packed) — theta_sketch_impl.hpp:461-560,
# bit order per theta/include/bit_packing.hpp (MSB-first concatenation)
# ---------------------------------------------------------------------------

_COMPRESSED_SERIAL_VERSION = 4


def _pack_deltas_msb(deltas: np.ndarray, bits: int) -> bytes:
    """Concatenate each delta's low ``bits`` bits MSB-first into a byte
    stream (the reference's pack_bits layout; final byte zero-padded on
    the right). Vectorized: bit matrix → np.packbits (MSB-first)."""
    if bits == 0 or len(deltas) == 0:
        return b""
    shifts = np.arange(bits - 1, -1, -1, dtype=np.uint64)
    bitmat = ((deltas[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bitmat.ravel()).tobytes()


def _unpack_deltas_msb(buf: bytes, offset: int, n: int, bits: int) -> np.ndarray:
    if bits == 0 or n == 0:
        return np.zeros(n, np.uint64)
    total_bits = n * bits
    nbytes = (total_bits + 7) // 8
    if len(buf) < offset + nbytes:
        raise ThetaSerdeError(
            f"truncated v4 entries: need {offset + nbytes} bytes, have {len(buf)}"
        )
    arr = np.frombuffer(buf, np.uint8, count=nbytes, offset=offset)
    bitvec = np.unpackbits(arr)[:total_bits].reshape(n, bits).astype(np.uint64)
    shifts = np.arange(bits - 1, -1, -1, dtype=np.uint64)
    return (bitvec << shifts).sum(axis=1, dtype=np.uint64)


def serialize_compact_v4(
    theta: int, sig: np.ndarray, seed: int = DEFAULT_SEED
) -> bytes:
    """(theta, sorted entries) → reference-compatible COMPRESSED v4 bytes:
    deltas between consecutive ordered entries, all packed at a single bit
    width = bit_length(OR of deltas) (compute_entry_bits). Falls back is
    the caller's job (`serialize_compressed` mirrors the reference's
    is_suitable_for_compression gate)."""
    theta = MAX_THETA if theta < 0 else int(theta)
    entries = np.ascontiguousarray(np.asarray(sig, np.int64).view(np.uint64))
    if len(entries) > 1 and not (entries[:-1] < entries[1:]).all():
        raise ThetaSerdeError("entries must be strictly ascending")
    n = len(entries)
    estimation = theta < MAX_THETA
    if n == 0 or (n == 1 and not estimation):
        raise ThetaSerdeError(
            "sketch not suitable for v4 compression (empty or trivial exact);"
            " use serialize_compressed for the reference's fallback"
        )
    deltas = np.diff(entries, prepend=np.uint64(0))
    entry_bits = int(np.bitwise_or.reduce(deltas)).bit_length()
    num_entries_bytes = max(1, (int(n).bit_length() + 7) // 8)
    preamble_longs = 2 if estimation else 1
    flags = (1 << _F_COMPACT) | (1 << _F_READ_ONLY) | (1 << _F_ORDERED)
    out = bytearray()
    out += struct.pack(
        "<BBBBBBH",
        preamble_longs,
        _COMPRESSED_SERIAL_VERSION,
        _SKETCH_TYPE,
        entry_bits,
        num_entries_bytes,
        flags,
        seed_hash(seed),
    )
    if estimation:
        out += struct.pack("<Q", theta)
    out += int(n).to_bytes(num_entries_bytes, "little")
    out += _pack_deltas_msb(deltas, entry_bits)
    return bytes(out)


def serialize_compressed(
    theta: int, sig: np.ndarray, seed: int = DEFAULT_SEED
) -> bytes:
    """Reference `serialize_compressed`: v4 when suitable, else v3."""
    entries = np.asarray(sig, np.int64)
    n = len(entries)
    estimation = 0 <= theta < MAX_THETA
    if n == 0 or (n == 1 and not estimation):
        return serialize_compact_v3(theta, sig, seed)
    return serialize_compact_v4(theta, sig, seed)


def deserialize_compact_v4(
    buf: bytes, seed: int = DEFAULT_SEED
) -> tuple[int, np.ndarray]:
    """v4 bytes → (theta [-1 ⇔ exact], sorted int64 entries); fails fast on
    version/type/seed-hash mismatch and truncation."""
    if len(buf) < 8:
        raise ThetaSerdeError(f"buffer too short for preamble: {len(buf)} bytes")
    preamble_longs, ver, typ, entry_bits, num_entries_bytes, _flags, sh = (
        struct.unpack_from("<BBBBBBH", buf, 0)
    )
    if ver != _COMPRESSED_SERIAL_VERSION:
        raise ThetaSerdeError(f"unsupported serial version {ver} (expected 4)")
    if typ != _SKETCH_TYPE:
        raise ThetaSerdeError(f"not a compact theta sketch (type {typ})")
    if sh != seed_hash(seed):
        raise ThetaSerdeError(
            f"seed hash mismatch: stream {sh:#06x} vs seed {seed} "
            f"-> {seed_hash(seed):#06x}"
        )
    if entry_bits > 64:
        raise ThetaSerdeError(f"corrupt entry_bits {entry_bits}")
    off = 8
    if preamble_longs == 2:
        if len(buf) < off + 8:
            raise ThetaSerdeError("truncated preamble (theta)")
        (theta,) = struct.unpack_from("<Q", buf, off)
        off += 8
    else:
        theta = MAX_THETA
    if len(buf) < off + num_entries_bytes:
        raise ThetaSerdeError("truncated preamble (num_entries)")
    n = int.from_bytes(buf[off : off + num_entries_bytes], "little")
    off += num_entries_bytes
    deltas = _unpack_deltas_msb(buf, off, n, entry_bits)
    entries = np.cumsum(deltas, dtype=np.uint64)
    if len(entries) > 1 and not (entries[:-1] < entries[1:]).all():
        raise ThetaSerdeError("corrupt v4 stream: entries not ascending")
    return (-1 if theta >= MAX_THETA else int(theta)), entries.view(np.int64)


# legacy streams write LLONG_MAX (2^63-1) for "keep all" (theta_constants.hpp:36);
# this engine's exact-mode sentinel is 2^63 — map on read
_LEGACY_MAX_THETA = MAX_THETA - 1


def _read_entries(buf: bytes, off: int, n: int) -> np.ndarray:
    need = off + 8 * n
    if len(buf) < need:
        raise ThetaSerdeError(
            f"truncated entries: need {need} bytes, have {len(buf)}"
        )
    return np.frombuffer(buf, dtype="<u8", count=n, offset=off)


def deserialize_compact_v1(buf: bytes, seed: int = DEFAULT_SEED) -> tuple[int, np.ndarray]:
    """Legacy v1 parse (theta_sketch_impl.hpp:588-602). v1 carries no seed
    hash, so ``seed`` is unused — accepted for signature symmetry."""
    if len(buf) < 24:
        raise ThetaSerdeError(f"truncated v1 preamble: {len(buf)} bytes")
    if buf[2] != _SKETCH_TYPE:
        raise ThetaSerdeError(f"not a compact theta sketch (type {buf[2]})")
    (n,) = struct.unpack_from("<I", buf, 8)
    (theta,) = struct.unpack_from("<Q", buf, 16)
    is_empty = n == 0 and theta >= _LEGACY_MAX_THETA
    entries = np.empty(0, "<u8") if is_empty else _read_entries(buf, 24, n)
    entries = np.sort(entries)  # v1 may be unsorted (theta_sketch_test.cpp:446)
    return (-1 if theta >= _LEGACY_MAX_THETA else int(theta)), entries.view(np.int64)


def deserialize_compact_v2(buf: bytes, seed: int = DEFAULT_SEED) -> tuple[int, np.ndarray]:
    """Legacy v2 parse (theta_sketch_impl.hpp:605-644)."""
    if len(buf) < 8:
        raise ThetaSerdeError(f"truncated v2 preamble: {len(buf)} bytes")
    preamble_longs = buf[0]
    if buf[2] != _SKETCH_TYPE:
        raise ThetaSerdeError(f"not a compact theta sketch (type {buf[2]})")
    (sh,) = struct.unpack_from("<H", buf, 6)
    if sh != seed_hash(seed):
        raise ThetaSerdeError(
            f"seed hash mismatch: stream {sh:#06x} vs seed {seed} "
            f"-> {seed_hash(seed):#06x}"
        )
    if preamble_longs == 1:
        return -1, np.empty(0, np.int64)
    if preamble_longs == 2:
        (n,) = struct.unpack_from("<I", buf, 8)
        entries = _read_entries(buf, 16, n)
        return -1, np.sort(entries).view(np.int64)
    if preamble_longs == 3:
        if len(buf) < 24:
            raise ThetaSerdeError("truncated v2 preamble (theta)")
        (n,) = struct.unpack_from("<I", buf, 8)
        (theta,) = struct.unpack_from("<Q", buf, 16)
        entries = _read_entries(buf, 24, n)
        return (-1 if theta >= _LEGACY_MAX_THETA else int(theta)), np.sort(entries).view(np.int64)
    raise ThetaSerdeError(f"bad v2 preamble_longs {preamble_longs}")


def deserialize_compact(
    buf: bytes, seed: int = DEFAULT_SEED
) -> tuple[int, np.ndarray]:
    """Version-dispatching parse (byte 1): v3 uncompressed, v4 packed,
    or legacy v1/v2 (read-only)."""
    if len(buf) < 2:
        raise ThetaSerdeError("buffer too short")
    ver = buf[1]
    if ver == _SERIAL_VERSION:
        return deserialize_compact_v3(buf, seed)
    if ver == _COMPRESSED_SERIAL_VERSION:
        return deserialize_compact_v4(buf, seed)
    if ver == 1:
        return deserialize_compact_v1(buf, seed)
    if ver == 2:
        return deserialize_compact_v2(buf, seed)
    raise ThetaSerdeError(f"unsupported serial version {ver}")


# ---------------------------------------------------------------------------
# Spark-level export/import: sketch tables <-> reference-compatible blobs
# ---------------------------------------------------------------------------


def with_theta_bytes(
    sketch_df, out_col: str = "sketch_bytes", compressed: bool = True,
    seed: int = DEFAULT_SEED,
):
    """Append a BinaryType column of reference-wire sketch blobs to a
    theta sketch table (the (theta, sig) shape theta_sketch_agg emits).
    Writing the result to parquet yields a table ANY DataSketches
    deployment (Java/C++/Python binding) can consume — the interop path
    the parquet-array checkpoint format deliberately is not."""
    from pyspark.sql.types import BinaryType, StructField

    from ._twostage import map_rows

    ser = serialize_compressed if compressed else serialize_compact_v3

    def add_bytes(thetas, sigs):
        return [[ser(int(t), np.asarray(s, np.int64), seed) for t, s in zip(thetas, sigs)]]

    return map_rows(
        sketch_df, ["theta", "sig"], add_bytes, [StructField(out_col, BinaryType(), False)]
    )


def theta_from_bytes(blob_df, bytes_col: str = "sketch_bytes", seed: int = DEFAULT_SEED):
    """Inverse: a BinaryType column of v3/v4 reference blobs → (theta, sig)
    columns consumable by the engine's set ops / estimators."""
    from pyspark.sql.types import ArrayType, LongType, StructField

    from ._twostage import map_rows

    def parse(blobs):
        parsed = [deserialize_compact(bytes(b), seed) for b in blobs]
        return [[t for t, _ in parsed], [e.tolist() for _, e in parsed]]

    out = [
        StructField("theta", LongType(), False),
        StructField("sig", ArrayType(LongType(), False), False),
    ]
    return map_rows(blob_df, [bytes_col], parse, out, drop=[bytes_col])
