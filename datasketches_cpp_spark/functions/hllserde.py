"""HLL wire serialization — the reference byte layouts
(hll/include/HllUtil.hpp:40-74 constants, HllArray-internal.hpp:219-243
serialize / :95-152 deserialize), re-derived so HLL sketches built by
`hll.hll_sketch_agg` can be exchanged with Java/C++ DataSketches
deployments.

Write path: dense HLL_8 compact (serialize_hll8 below) — the engine's
canonical target type. Read path (`deserialize_hll`): EVERY stream shape
the reference can produce — coupon LIST (preints 2, count in byte 6,
uint32 coupons @8), coupon SET (preints 3, uint32 count @8, coupons @12,
EMPTY=0 slots skipped in updatable form), and dense HLL mode in all three
register widths: HLL_4 (k/2 nibble bytes relative to cur_min, AUX_TOKEN=15
escapes to the aux exception map appended after the array), HLL_6 (6-bit
little-endian packing, (3k/4)+1 bytes), HLL_8 (k bytes). Sparse coupons
replay into the HLL-8 gadget exactly like HllUnion ingestion: slot =
coupon & (k-1), value = coupon >> 26, register keeps the max.

Layout (little-endian, HLL mode, target HLL_8, compact):

    byte 0    preamble_ints   10 (HLL_PREINTS)
    byte 1    serial version  1
    byte 2    family          7 (HLL)
    byte 3    lg_k
    byte 4    lg_aux_arr      0 (HLL_8 has no aux exception map)
    byte 5    flags           COMPACT(8) | OUT_OF_ORDER(16) [| EMPTY(4)]
    byte 6    cur_min         min register value
    byte 7    mode            curMode HLL(2) | tgtType HLL_8(2) << 2 = 0x0A
    double @8   hip_accum     0.0 — we always set OUT_OF_ORDER (register
                              state comes from a distributed merge), and
                              the reference reader ignores hip when OOO
    double @16  kxq0          Σ 2^-reg over regs with value < 32
    double @24  kxq1          Σ 2^-reg over regs with value ≥ 32
    uint32 @32  num_at_cur_min
    uint32 @36  aux_count     0
    bytes  @40  K register bytes (uint8 each)

The kxq/cur_min scalars are pure functions of the registers; serialize
computes them exactly so the C++ reader's composite estimator sees the
same state it would have built itself.
"""

from __future__ import annotations

import struct

import numpy as np

_PREINTS = 10
_SER_VER = 1
_FAMILY = 7
_F_EMPTY = 4
_F_COMPACT = 8
_F_OUT_OF_ORDER = 16
_MODE_HLL_TGT8 = 2 | (2 << 2)
_DATA_START = 40


class HllSerdeError(ValueError):
    pass


def _kxq(regs: np.ndarray) -> tuple[float, float]:
    vals = regs.astype(np.float64)
    contrib = np.exp2(-vals)
    lo = float(contrib[regs < 32].sum())
    hi = float(contrib[regs >= 32].sum())
    return lo, hi


def serialize_hll8(regs: np.ndarray, lg_k: int) -> bytes:
    """K uint8 registers → reference-compatible dense HLL_8 bytes."""
    regs = np.ascontiguousarray(np.asarray(regs, np.uint8))
    if len(regs) != (1 << lg_k):
        raise HllSerdeError(f"register count {len(regs)} != 2^lg_k ({1 << lg_k})")
    cur_min = int(regs.min())
    num_at_cur_min = int(np.count_nonzero(regs == cur_min))
    kxq0, kxq1 = _kxq(regs)
    flags = _F_COMPACT | _F_OUT_OF_ORDER
    if cur_min == 0 and num_at_cur_min == len(regs):
        flags |= _F_EMPTY
    out = bytearray()
    out += struct.pack(
        "<BBBBBBBB", _PREINTS, _SER_VER, _FAMILY, lg_k, 0, flags, cur_min,
        _MODE_HLL_TGT8,
    )
    out += struct.pack("<ddd", 0.0, kxq0, kxq1)
    out += struct.pack("<II", num_at_cur_min, 0)
    out += regs.tobytes()
    return bytes(out)


def deserialize_hll8(buf: bytes) -> tuple[int, np.ndarray]:
    """Reference dense HLL_8 bytes → (lg_k, K uint8 registers); fails fast
    on family/version/mode mismatch, truncation, and scalar inconsistency
    (deserialize-hardening discipline: the kxq/cur_min fields must agree
    with the registers they describe)."""
    if len(buf) < _DATA_START:
        raise HllSerdeError(f"buffer too short for HLL preamble: {len(buf)}")
    preints, sv, family, lg_k, _lg_arr, flags, cur_min, mode = struct.unpack_from(
        "<BBBBBBBB", buf, 0
    )
    if family != _FAMILY:
        raise HllSerdeError(f"not an HLL sketch (family {family})")
    if sv != _SER_VER:
        raise HllSerdeError(f"unsupported serial version {sv}")
    if preints != _PREINTS:
        raise HllSerdeError(f"bad preamble_ints {preints} for HLL mode")
    if (mode & 0x3) != 2:
        raise HllSerdeError("stream is not in HLL mode (LIST/SET unsupported)")
    if ((mode >> 2) & 0x3) != 2:
        raise HllSerdeError("only HLL_8 target type is supported")
    k = 1 << lg_k
    if len(buf) < _DATA_START + k:
        raise HllSerdeError(
            f"truncated registers: need {_DATA_START + k} bytes, have {len(buf)}"
        )
    regs = np.frombuffer(buf, np.uint8, count=k, offset=_DATA_START).copy()
    # HLL6/HLL8 keep curMin pinned at 0 forever (HllArray-internal.hpp:336:
    # "For HLL6 and HLL8, curMin is always 0 and numAtCurMin ... is
    # decremented"), so a saturated stream legitimately carries cur_min 0
    # with every register > 0. Reject only the impossible direction:
    # cur_min claiming MORE than the registers show.
    if cur_min > int(regs.min()):
        raise HllSerdeError(
            f"corrupt stream: cur_min {cur_min} > register min {int(regs.min())}"
        )
    return lg_k, regs


# ---------------------------------------------------------------------------
# Universal import: ALL reference HLL stream shapes → HLL-8 registers
# (LIST/SET coupon modes: HllUtil.hpp:58-64 offsets, CouponList-internal.hpp
#  newList / CouponHashSet-internal newSet; HLL_4 nibbles + aux exception
#  map: Hll4Array-internal.hpp:159-165, AuxHashMap-internal.hpp:49-96;
#  HLL_6 six-bit packing: Hll6Array-internal.hpp:75-81)
# ---------------------------------------------------------------------------

_LIST_INT_ARR_START = 8
_HASH_SET_COUNT_INT = 8
_HASH_SET_INT_ARR_START = 12
_KEY_BITS_26 = 26
_KEY_MASK_26 = (1 << 26) - 1
_AUX_TOKEN = 0xF


def _replay_coupons(coupons: np.ndarray, lg_k: int) -> np.ndarray:
    """Coupon replay into a dense HLL-8 register array — the semantics of
    HllUnion coupon ingestion (Hll8Array internalCouponUpdate): slot =
    low-26 bits masked to k, value = top 6 bits, register keeps the max.
    Zero coupons (EMPTY hash-set slots) are skipped."""
    k = 1 << lg_k
    regs = np.zeros(k, np.uint8)
    coupons = coupons[coupons != 0]
    if len(coupons):
        slots = (coupons & np.uint32(_KEY_MASK_26)) & np.uint32(k - 1)
        vals = (coupons >> np.uint32(_KEY_BITS_26)).astype(np.uint8)
        np.maximum.at(regs, slots, vals)
    return regs


def _unpack_hll4(buf: bytes, off: int, lg_k: int, cur_min: int,
                 aux_count: int, lg_aux_arr: int, compact: bool) -> np.ndarray:
    """HLL_4 nibble array + aux exception map → uint8 registers.
    Register value = cur_min + nibble; nibble 15 (AUX_TOKEN) means the true
    value lives in the aux map keyed by slot."""
    k = 1 << lg_k
    arr_bytes = k >> 1
    if len(buf) < off + arr_bytes:
        raise HllSerdeError("truncated HLL_4 register array")
    packed = np.frombuffer(buf, np.uint8, count=arr_bytes, offset=off)
    nibbles = np.empty(k, np.uint8)
    nibbles[0::2] = packed & 0x0F        # even slot → low nibble
    nibbles[1::2] = packed >> 4          # odd slot → high nibble
    regs = (cur_min + nibbles).astype(np.uint8)
    aux_off = off + arr_bytes
    if aux_count > 0:
        n_ints = aux_count if compact else (1 << lg_aux_arr)
        if len(buf) < aux_off + 4 * n_ints:
            raise HllSerdeError("truncated HLL_4 aux map")
        pairs = np.frombuffer(buf, "<u4", count=n_ints, offset=aux_off)
        pairs = pairs[pairs != 0]
        slots = (pairs & np.uint32(_KEY_MASK_26)) & np.uint32(k - 1)
        vals = (pairs >> np.uint32(_KEY_BITS_26)).astype(np.uint8)
        exception = nibbles[slots] == _AUX_TOKEN
        if not exception.all():
            raise HllSerdeError("aux entry for a non-exception slot")
        regs[slots] = vals
    elif (nibbles == _AUX_TOKEN).any():
        raise HllSerdeError("AUX_TOKEN nibble present but aux_count == 0")
    return regs


def _unpack_hll6(buf: bytes, off: int, lg_k: int) -> np.ndarray:
    """HLL_6 6-bit-packed register array → uint8 registers (little-endian
    bit order within the byte stream, Hll6Array getSlot)."""
    k = 1 << lg_k
    arr_bytes = ((k * 3) >> 2) + 1
    if len(buf) < off + arr_bytes:
        raise HllSerdeError("truncated HLL_6 register array")
    raw = np.frombuffer(buf, np.uint8, count=arr_bytes, offset=off)
    bits = np.unpackbits(raw, bitorder="little")
    usable = bits[: k * 6].reshape(k, 6).astype(np.uint8)
    weights = (1 << np.arange(6, dtype=np.uint8))
    return (usable * weights).sum(axis=1).astype(np.uint8)


def serialize_hll4(regs: np.ndarray, lg_k: int) -> bytes:
    """K uint8 registers → compact HLL_4 bytes (k/2 nibbles relative to
    cur_min + aux exception map for values ≥ cur_min+15) — the reference's
    most space-efficient dense form, half the bytes of HLL_8 when the
    register spread allows. Readable by deserialize_hll and any
    DataSketches deployment."""
    regs = np.ascontiguousarray(np.asarray(regs, np.uint8))
    if len(regs) != (1 << lg_k):
        raise HllSerdeError(f"register count {len(regs)} != 2^lg_k ({1 << lg_k})")
    cur_min = int(regs.min())
    rel = regs.astype(np.int64) - cur_min
    exc_slots = np.nonzero(rel >= _AUX_TOKEN)[0]
    nib = np.minimum(rel, _AUX_TOKEN).astype(np.uint8)
    packed = (nib[0::2] | (nib[1::2] << 4)).astype(np.uint8)
    kxq0, kxq1 = _kxq(regs)
    flags = _F_COMPACT | _F_OUT_OF_ORDER
    if cur_min == 0 and not regs.any():
        flags |= _F_EMPTY
    out = bytearray()
    out += struct.pack("<BBBBBBBB", _PREINTS, _SER_VER, _FAMILY, lg_k, 0,
                       flags, cur_min, 2 | (0 << 2))
    out += struct.pack("<ddd", 0.0, kxq0, kxq1)
    out += struct.pack(
        "<II", int(np.count_nonzero(regs == cur_min)), len(exc_slots)
    )
    out += packed.tobytes()
    if len(exc_slots):
        pairs = (exc_slots.astype(np.uint32)
                 | (regs[exc_slots].astype(np.uint32) << np.uint32(_KEY_BITS_26)))
        out += pairs.astype("<u4").tobytes()
    return bytes(out)


def serialize_hll6(regs: np.ndarray, lg_k: int) -> bytes:
    """K uint8 registers → dense HLL_6 bytes (6-bit little-endian packing,
    (3k/4)+1 bytes) — no aux map needed since rho < 64 always."""
    regs = np.ascontiguousarray(np.asarray(regs, np.uint8))
    if len(regs) != (1 << lg_k):
        raise HllSerdeError(f"register count {len(regs)} != 2^lg_k ({1 << lg_k})")
    if (regs >= 64).any():
        raise HllSerdeError("HLL register value ≥ 64 is impossible/corrupt")
    k = len(regs)
    bits = np.zeros(k * 6, np.uint8)
    for i in range(6):
        bits[i::6] = (regs >> i) & 1
    arr = np.packbits(bits, bitorder="little")
    body = np.zeros(((k * 3) >> 2) + 1, np.uint8)
    body[: len(arr)] = arr
    kxq0, kxq1 = _kxq(regs)
    flags = _F_COMPACT | _F_OUT_OF_ORDER
    if not regs.any():
        flags |= _F_EMPTY
    out = bytearray()
    out += struct.pack("<BBBBBBBB", _PREINTS, _SER_VER, _FAMILY, lg_k, 0,
                       flags, int(regs.min()), 2 | (1 << 2))
    out += struct.pack("<ddd", 0.0, kxq0, kxq1)
    out += struct.pack("<II", int(np.count_nonzero(regs == regs.min())), 0)
    out += body.tobytes()
    return bytes(out)


def deserialize_hll(buf: bytes) -> tuple[int, np.ndarray]:
    """Parse ANY reference HLL stream — coupon LIST, coupon SET, or dense
    HLL mode in all three register widths (HLL_4 / HLL_6 / HLL_8) — into
    (lg_k, K uint8 registers), the engine's HLL-8 gadget state. Sparse
    modes are replayed coupon-by-coupon exactly like HllUnion ingestion,
    so `hll_merge_sketches` / `_composite_estimate` work on the result
    unchanged. Fails fast on family/version mismatch and truncation."""
    if len(buf) < 8:
        raise HllSerdeError(f"buffer too short for preamble: {len(buf)}")
    preints, sv, family, lg_k, lg_arr, flags, byte6, mode = struct.unpack_from(
        "<BBBBBBBB", buf, 0
    )
    if family != _FAMILY:
        raise HllSerdeError(f"not an HLL sketch (family {family})")
    if sv != _SER_VER:
        raise HllSerdeError(f"unsupported serial version {sv}")
    if lg_k < 4 or lg_k > 21:
        raise HllSerdeError(f"lg_k {lg_k} outside reference range [4, 21]")
    cur_mode = mode & 0x3
    compact = bool(flags & _F_COMPACT)
    empty = bool(flags & _F_EMPTY)
    if cur_mode == 0:  # LIST
        if preints != 2:
            raise HllSerdeError(f"bad preamble_ints {preints} for LIST mode")
        count = byte6
        if empty or count == 0:
            return lg_k, np.zeros(1 << lg_k, np.uint8)
        n_ints = count if compact else (1 << lg_arr)
        if len(buf) < _LIST_INT_ARR_START + 4 * n_ints:
            raise HllSerdeError("truncated LIST coupon array")
        coupons = np.frombuffer(buf, "<u4", count=n_ints, offset=_LIST_INT_ARR_START)
        return lg_k, _replay_coupons(coupons, lg_k)
    if cur_mode == 1:  # SET
        if preints != 3:
            raise HllSerdeError(f"bad preamble_ints {preints} for SET mode")
        if len(buf) < _HASH_SET_INT_ARR_START:
            raise HllSerdeError("truncated SET preamble")
        (count,) = struct.unpack_from("<I", buf, _HASH_SET_COUNT_INT)
        n_ints = count if compact else (1 << lg_arr)
        if len(buf) < _HASH_SET_INT_ARR_START + 4 * n_ints:
            raise HllSerdeError("truncated SET coupon array")
        coupons = np.frombuffer(buf, "<u4", count=n_ints, offset=_HASH_SET_INT_ARR_START)
        return lg_k, _replay_coupons(coupons, lg_k)
    if cur_mode != 2:
        raise HllSerdeError(f"corrupt mode byte {mode:#04x}")
    # HLL mode — byte6 is cur_min, target type selects the register packing
    if preints != _PREINTS:
        raise HllSerdeError(f"bad preamble_ints {preints} for HLL mode")
    if len(buf) < _DATA_START:
        raise HllSerdeError("truncated HLL preamble")
    (aux_count,) = struct.unpack_from("<I", buf, 36)
    tgt = (mode >> 2) & 0x3
    if tgt == 0:
        return lg_k, _unpack_hll4(buf, _DATA_START, lg_k, byte6,
                                  aux_count, lg_arr, compact)
    if tgt == 1:
        return lg_k, _unpack_hll6(buf, _DATA_START, lg_k)
    if tgt == 2:
        return deserialize_hll8(buf)
    raise HllSerdeError(f"corrupt target HLL type {tgt}")


def coupon_count(buf: bytes) -> int | None:
    """Number of collected coupons for a LIST/SET-mode reference HLL
    stream, or None for dense (HLL-mode) streams. In coupon mode the
    reference answers estimate queries from this count alone
    (CouponList-internal.hpp:307-328), so exposing it lets the engine
    reproduce those answers exactly instead of approximating them through
    a register replay."""
    if len(buf) < 8:
        return None
    preints, sv, family, _, _, _, list_count, mode = struct.unpack_from(
        "<BBBBBBBB", buf, 0
    )
    if family != _FAMILY or sv != _SER_VER:
        return None
    cur_mode = mode & 0x3
    if cur_mode == 0:  # LIST: count lives in preamble byte 6
        return int(list_count)
    if cur_mode == 1:  # SET: uint32 count at offset 8
        if len(buf) < _HASH_SET_INT_ARR_START:
            raise HllSerdeError("truncated SET preamble")
        (count,) = struct.unpack_from("<I", buf, _HASH_SET_COUNT_INT)
        return int(count)
    return None


def hip_estimate(buf: bytes) -> float | None:
    """Stored HIP accumulator of a dense-mode reference HLL stream, or None
    for coupon (LIST/SET) streams and streams flagged out-of-order (where
    the reference itself falls back to the composite estimator).  For an
    in-order stream this IS the reference's get_estimate() answer — exact
    wire parity without re-deriving the estimator."""
    if len(buf) < 40:
        return None
    _, sv, family, _, _, flags, _, mode = struct.unpack_from("<BBBBBBBB", buf, 0)
    if family != _FAMILY or sv != _SER_VER or (mode & 0x3) != 2:
        return None
    if flags & _F_OUT_OF_ORDER:
        return None
    (hip,) = struct.unpack_from("<d", buf, 8)
    return hip


def with_hll_bytes(regs_df, lg_k: int, regs_col: str = "regs", out_col: str = "sketch_bytes"):
    """Append a BinaryType column of reference HLL_8 wire blobs to a table
    carrying K-byte register states (the shape `hll.hll_sketch_agg(...,
    keep_registers=True)` emits). Parquet-writable, consumable by any
    DataSketches deployment."""
    from pyspark.sql.types import BinaryType, StructField

    from ._twostage import map_rows

    def add(regs):
        return [[serialize_hll8(np.frombuffer(b, np.uint8), lg_k) for b in regs]]

    return map_rows(regs_df, [regs_col], add, [StructField(out_col, BinaryType(), False)])


def hll_from_bytes(blob_df, lg_k: int, bytes_col: str = "sketch_bytes",
                   out_col: str = "regs"):
    """Inverse of with_hll_bytes, accepting ANY reference HLL stream shape
    (coupon LIST/SET, HLL_4/6/8) — each blob becomes a K-byte register
    column mergeable by hll.hll_merge_sketches. All blobs must carry the
    given lg_k (cross-lg_k union needs the reference's downsampling
    semantics, which this engine does not re-derive — fail fast instead)."""
    from pyspark.sql.types import BinaryType, StructField

    from ._twostage import map_rows

    def parse(blobs):
        regs_out = []
        for b in blobs:
            got_lg_k, regs = deserialize_hll(bytes(b))
            if got_lg_k != lg_k:
                raise HllSerdeError(
                    f"stream lg_k {got_lg_k} != requested {lg_k}; "
                    "cross-lg_k merge is out of scope"
                )
            regs_out.append(regs.tobytes())
        return [regs_out]

    return map_rows(
        blob_df, [bytes_col], parse, [StructField(out_col, BinaryType(), False)], drop=[bytes_col]
    )
