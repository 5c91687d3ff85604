"""CPC sketch wire serialization (family 16) — full compressed format.

Re-derivation of the reference byte layout and entropy coding
(cpc/include/cpc_sketch_impl.hpp serialize/deserialize,
cpc_compressor_impl.hpp compress/uncompress + low-level bit codecs,
compression_data.hpp code tables), so CPC states built by
`cpc.cpc_sketch_agg` can be exchanged with Java/C++ DataSketches
deployments.  All code here is original Python/numpy; the Huffman code
tables and column permutations that DEFINE the wire format (pure numeric
data, impossible to re-derive — they were hand-tuned against measured
coupon-stream entropy) are embedded as a binary resource
(_cpc_tables.npz, regenerated by scripts/gen_cpc_tables.py from the
public Apache-2.0 reference header).

Wire layout (little-endian):

    byte 0  preamble_ints  (2 + [1 coupons] + [4 HIP] + [1 table words]
                            + [1 table entries, only with window]
                            + [1 window words])
    byte 1  serial version 1
    byte 2  family         16
    byte 3  lg_k
    byte 4  first_interesting_column
    byte 5  flags          bit1 IS_COMPRESSED | bit2 HAS_HIP |
                           bit3 HAS_TABLE | bit4 HAS_WINDOW
    u16 @6  seed hash
    [num_coupons u32]
    [table_num_entries u32           — only when table AND window]
    [kxp f64, hip_est_accum f64      — only when HAS_HIP, here if both]
    [table_data_words u32]
    [window_data_words u32]
    [kxp f64, hip_est_accum f64      — only when HAS_HIP, here otherwise]
    [window words u32 × window_data_words]
    [table words u32 × table_data_words]

The compressed streams:
  * window bytes — per-byte Huffman codes (12-bit max) selected by
    "pseudo phase" (a function of lg_k and the coupon count);
  * surprising-value pairs — sorted (row<<6|col) u32s, column deltas in a
    65-symbol length-limited unary code, row deltas in Golomb codes whose
    base is floor(log2((k+pairs−pairs)/pairs)).

Flavors (determine_flavor, cpc_sketch_impl.hpp:786-797):
  EMPTY, SPARSE (pairs only), HYBRID (window folded into pairs),
  PINNED (window at offset 0 + pairs with col≥8 stored −8),
  SLIDING (window at offset + pairs rotated and permuted).

State model on the Python side: the engine's K-word uint64 coupon bit
matrix (functions/cpc.py) plus the opaque HIP registers when present —
`deserialize_cpc` rebuilds the matrix exactly like the reference's
build_bit_matrix; `serialize_cpc` is its inverse.
"""

from __future__ import annotations

import io
import pkgutil
import struct

import numpy as np

_SER_VER = 1
_FAMILY = 16
_F_COMPRESSED = 1
_F_HAS_HIP = 2
_F_HAS_TABLE = 3
_F_HAS_WINDOW = 4

# pkgutil.get_data (not a filesystem path) so the resource also loads when
# the package ships as a spark-submit --py-files zip (zipimport).
_TABLES = np.load(io.BytesIO(pkgutil.get_data(__package__, "_cpc_tables.npz")))
_ENC_BYTE = _TABLES["encoding_tables"]          # [22][256] (len<<12)|code
_ENC_UNARY65 = _TABLES["unary_table65"]         # [65]      (len<<12)|code
_PERM_ENC = _TABLES["column_permutations"]      # [16][56]
_PERM_DEC = np.empty_like(_PERM_ENC)
for _i in range(16):
    _PERM_DEC[_i][_PERM_ENC[_i]] = np.arange(56, dtype=np.uint8)


class CpcSerdeError(ValueError):
    pass


def _seed_hash(seed: int) -> int:
    from ..hashing import seed_hash

    return seed_hash(seed)


# ---------------------------------------------------------------------------
# decoding tables: 12-bit peek → (code_len << 8) | symbol
# ---------------------------------------------------------------------------

_DEC_CACHE: dict[int, np.ndarray] = {}


def _decoding_table(encoding: np.ndarray) -> np.ndarray:
    key = hash(encoding.tobytes())
    hit = _DEC_CACHE.get(key)
    if hit is not None:
        return hit
    table = np.zeros(4096, np.uint16)
    for sym, info in enumerate(encoding):
        length = int(info) >> 12
        code = int(info) & 0xFFF
        n_fill = 1 << (12 - length)
        idx = code + (np.arange(n_fill) << length)
        table[idx] = (length << 8) | sym
    _DEC_CACHE[key] = table
    return table


# ---------------------------------------------------------------------------
# low-level bit codecs (cpc_compressor_impl.hpp:484-720)
# ---------------------------------------------------------------------------


def _compress_bytes(data: np.ndarray, encoding: np.ndarray) -> np.ndarray:
    """Huffman-encode `data` bytes; returns the u32 word stream."""
    out: list[int] = []
    bitbuf = 0
    bufbits = 0
    for b in data:
        info = int(encoding[b])
        bitbuf |= (info & 0xFFF) << bufbits
        bufbits += info >> 12
        while bufbits >= 32:
            out.append(bitbuf & 0xFFFFFFFF)
            bitbuf >>= 32
            bufbits -= 32
    bufbits += 11  # zero padding for the decoder's 12-bit peek
    while bufbits >= 32:
        out.append(bitbuf & 0xFFFFFFFF)
        bitbuf >>= 32
        bufbits -= 32
    if bufbits > 0:
        out.append(bitbuf & 0xFFFFFFFF)
    return np.array(out, dtype=np.uint32)


def _uncompress_bytes(words: np.ndarray, n: int, decoding: np.ndarray) -> np.ndarray:
    out = np.empty(n, np.uint8)
    bitbuf = 0
    bufbits = 0
    wi = 0
    for i in range(n):
        if bufbits < 12:
            bitbuf |= int(words[wi]) << bufbits
            wi += 1
            bufbits += 32
        lookup = int(decoding[bitbuf & 0xFFF])
        length = lookup >> 8
        out[i] = lookup & 0xFF
        bitbuf >>= length
        bufbits -= length
    if wi > len(words):
        raise CpcSerdeError("window bitstream over-run")
    return out


def _golomb_base_bits(k_plus_pairs: int, count: int) -> int:
    q = (k_plus_pairs - count) // count
    return 0 if q == 0 else q.bit_length() - 1


def _compress_pairs(pairs: np.ndarray, base_bits: int) -> np.ndarray:
    out: list[int] = []
    bitbuf = 0
    bufbits = 0
    lo_mask = (1 << base_bits) - 1
    pred_row = 0
    pred_col = 0

    def flush():
        nonlocal bitbuf, bufbits
        while bufbits >= 32:
            out.append(bitbuf & 0xFFFFFFFF)
            bitbuf >>= 32
            bufbits -= 32

    for rc in pairs:
        rc = int(rc)
        row = rc >> 6
        col = rc & 63
        if row != pred_row:
            pred_col = 0
        if row < pred_row or col < pred_col:
            raise CpcSerdeError("pairs are not sorted")
        y = row - pred_row
        x = col - pred_col
        pred_row = row
        pred_col = col + 1
        info = int(_ENC_UNARY65[x])
        bitbuf |= (info & 0xFFF) << bufbits
        bufbits += info >> 12
        flush()
        hi = y >> base_bits
        # unary: hi zeros then a one, LSB-first
        bufbits += hi
        flush()
        bitbuf |= 1 << bufbits
        bufbits += 1
        flush()
        bitbuf |= (y & lo_mask) << bufbits
        bufbits += base_bits
        flush()
    bufbits += 0 if base_bits > 10 else 10 - base_bits
    flush()
    if bufbits > 0:
        out.append(bitbuf & 0xFFFFFFFF)
    return np.array(out, dtype=np.uint32)


_UNARY_DEC = _decoding_table(_ENC_UNARY65)


def _uncompress_pairs(words: np.ndarray, num_pairs: int, base_bits: int) -> np.ndarray:
    out = np.empty(num_pairs, np.uint32)
    bitbuf = 0
    bufbits = 0
    wi = 0
    lo_mask = (1 << base_bits) - 1
    pred_row = 0
    pred_col = 0

    def fill(minbits: int):
        nonlocal bitbuf, bufbits, wi
        if bufbits < minbits:
            bitbuf |= int(words[wi]) << bufbits
            wi += 1
            bufbits += 32

    for i in range(num_pairs):
        fill(12)
        lookup = int(_UNARY_DEC[bitbuf & 0xFFF])
        length = lookup >> 8
        x = lookup & 0xFF
        bitbuf >>= length
        bufbits -= length
        # unary golomb-hi: count zeros before the next one, 8 bits at a time
        hi = 0
        while True:
            fill(8)
            peek8 = bitbuf & 0xFF
            if peek8 != 0:
                tz = (peek8 & -peek8).bit_length() - 1
                bitbuf >>= tz + 1
                bufbits -= tz + 1
                hi += tz
                break
            hi += 8
            bitbuf >>= 8
            bufbits -= 8
        fill(base_bits)
        y = (hi << base_bits) | (bitbuf & lo_mask)
        bitbuf >>= base_bits
        bufbits -= base_bits
        if y > 0:
            pred_col = 0
        row = pred_row + y
        col = pred_col + x
        out[i] = (row << 6) | col
        pred_row = row
        pred_col = col + 1
    if wi > len(words):
        raise CpcSerdeError("pair bitstream over-run")
    return out


# ---------------------------------------------------------------------------
# flavor machinery (cpc_sketch_impl.hpp:781-804)
# ---------------------------------------------------------------------------


def _flavor(lg_k: int, c: int) -> str:
    k = 1 << lg_k
    if c == 0:
        return "empty"
    if (c << 5) < 3 * k:
        return "sparse"
    if (c << 1) < k:
        return "hybrid"
    if (c << 3) < 27 * k:
        return "pinned"
    return "sliding"


def _correct_offset(lg_k: int, c: int) -> int:
    k = 1 << lg_k
    tmp = (c << 3) - 19 * k
    return 0 if tmp < 0 else tmp >> (lg_k + 3)


def _pseudo_phase(lg_k: int, c: int) -> int:
    k = 1 << lg_k
    if 1000 * c < 2375 * k:
        if 4 * c < 3 * k:
            return 16 + 0
        if 10 * c < 11 * k:
            return 16 + 1
        if 100 * c < 132 * k:
            return 16 + 2
        if 3 * c < 5 * k:
            return 16 + 3
        if 1000 * c < 1965 * k:
            return 16 + 4
        if 1000 * c < 2275 * k:
            return 16 + 5
        return 6
    return (c >> (lg_k - 4)) & 15


# ---------------------------------------------------------------------------
# matrix ⇄ (window, pairs)
# ---------------------------------------------------------------------------


def _matrix_to_window_pairs(
    matrix: np.ndarray, offset: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """(window bytes, sorted surprise pairs with TRUE column indices,
    first_interesting_column) — the inverse of build_bit_matrix."""
    window = ((matrix >> np.uint64(offset)) & np.uint64(0xFF)).astype(np.uint8)
    clear_mask = np.uint64(((0xFF << offset) ^ 0xFFFFFFFFFFFFFFFF) & 0xFFFFFFFFFFFFFFFF)
    flip_mask = np.uint64((1 << offset) - 1)
    patterns = (matrix & clear_mask) ^ flip_mask
    rows, = np.nonzero(patterns)
    pair_list = []
    ored = 0
    for r in rows:
        p = int(patterns[r])
        ored |= p
        base = int(r) << 6
        while p:
            col = (p & -p).bit_length() - 1
            p &= p - 1
            pair_list.append(base | col)
    fic = 0
    if ored:
        fic = (ored & -ored).bit_length() - 1
    fic = min(fic, offset)
    return window, np.sort(np.array(pair_list, dtype=np.uint32)), fic


def _window_pairs_to_matrix(
    lg_k: int, offset: int, window: np.ndarray | None, pairs: np.ndarray
) -> np.ndarray:
    """build_bit_matrix (cpc_sketch_impl.hpp): default early-zone ones,
    window bytes at `offset`, surprise pairs XOR-flipped."""
    k = 1 << lg_k
    matrix = np.full(k, (1 << offset) - 1, dtype=np.uint64)
    if window is not None:
        matrix |= window.astype(np.uint64) << np.uint64(offset)
    if len(pairs):
        rows = (pairs >> np.uint32(6)).astype(np.int64)
        cols = (pairs & np.uint32(63)).astype(np.uint64)
        np.bitwise_xor.at(matrix, rows, np.uint64(1) << cols)
    return matrix


# ---------------------------------------------------------------------------
# public serde
# ---------------------------------------------------------------------------


def deserialize_cpc(buf: bytes, seed: int = 9001) -> dict:
    """Reference CPC bytes → {lg_k, num_coupons, matrix (K×u64),
    first_interesting_column, kxp, hip_est_accum, has_hip}; fails fast on
    family/version/seed mismatch and truncation."""
    if len(buf) < 8:
        raise CpcSerdeError(f"buffer too short for preamble: {len(buf)}")
    preints, sv, family, lg_k, fic, flags, sh = struct.unpack_from("<BBBBBBH", buf, 0)
    if family != _FAMILY:
        raise CpcSerdeError(f"not a CPC sketch (family {family})")
    if sv != _SER_VER:
        raise CpcSerdeError(f"unsupported serial version {sv}")
    if not (flags & (1 << _F_COMPRESSED)):
        raise CpcSerdeError("uncompressed CPC streams do not exist in the wild")
    if sh != _seed_hash(seed):
        raise CpcSerdeError(f"seed hash mismatch: stream {sh:#06x} vs seed {seed}")
    if lg_k < 4 or lg_k > 26:
        raise CpcSerdeError(f"lg_k {lg_k} outside reference range [4, 26]")
    has_hip = bool(flags & (1 << _F_HAS_HIP))
    has_table = bool(flags & (1 << _F_HAS_TABLE))
    has_window = bool(flags & (1 << _F_HAS_WINDOW))
    off = 8
    num_coupons = 0
    table_entries = 0
    table_words = 0
    window_words = 0
    kxp = float(1 << lg_k)
    hip = 0.0

    def need(nbytes: int):
        if len(buf) < off + nbytes:
            raise CpcSerdeError("truncated CPC stream")

    if has_table or has_window:
        need(4)
        (num_coupons,) = struct.unpack_from("<I", buf, off)
        off += 4
        if has_table and has_window:
            need(4)
            (table_entries,) = struct.unpack_from("<I", buf, off)
            off += 4
            if has_hip:
                need(16)
                kxp, hip = struct.unpack_from("<dd", buf, off)
                off += 16
        if has_table:
            need(4)
            (table_words,) = struct.unpack_from("<I", buf, off)
            off += 4
        if has_window:
            need(4)
            (window_words,) = struct.unpack_from("<I", buf, off)
            off += 4
        if has_hip and not (has_table and has_window):
            need(16)
            kxp, hip = struct.unpack_from("<dd", buf, off)
            off += 16
        window_data = np.empty(0, np.uint32)
        if has_window:
            need(4 * window_words)
            window_data = np.frombuffer(buf, "<u4", count=window_words, offset=off).copy()
            off += 4 * window_words
        table_data = np.empty(0, np.uint32)
        if has_table:
            need(4 * table_words)
            table_data = np.frombuffer(buf, "<u4", count=table_words, offset=off).copy()
            off += 4 * table_words
        if not has_window:
            table_entries = num_coupons
    if off != len(buf):
        raise CpcSerdeError(f"deserialized size mismatch: {off} != {len(buf)}")

    k = 1 << lg_k
    flav = _flavor(lg_k, num_coupons)
    if flav == "empty":
        matrix = np.zeros(k, np.uint64)
    elif flav == "sparse":
        pairs = _uncompress_pairs(table_data, table_entries, _golomb_base_bits(k + table_entries, table_entries))
        matrix = _window_pairs_to_matrix(lg_k, 0, None, pairs)
    elif flav == "hybrid":
        pairs = _uncompress_pairs(table_data, table_entries, _golomb_base_bits(k + table_entries, table_entries))
        matrix = _window_pairs_to_matrix(lg_k, 0, None, pairs)
    elif flav == "pinned":
        dec = _decoding_table(_ENC_BYTE[_pseudo_phase(lg_k, num_coupons)])
        window = _uncompress_bytes(window_data, k, dec)
        pairs = np.empty(0, np.uint32)
        if table_entries:
            pairs = _uncompress_pairs(table_data, table_entries, _golomb_base_bits(k + table_entries, table_entries))
            if ((pairs & 63) >= 56).any():
                raise CpcSerdeError("pinned pair column out of range")
            pairs = pairs + 8  # undo the compressor's 8-column shift
        matrix = _window_pairs_to_matrix(lg_k, 0, window, pairs)
    else:  # sliding
        pp = _pseudo_phase(lg_k, num_coupons)
        dec = _decoding_table(_ENC_BYTE[pp])
        window = _uncompress_bytes(window_data, k, dec)
        offset = _correct_offset(lg_k, num_coupons)
        pairs = np.empty(0, np.uint32)
        if table_entries:
            pairs = _uncompress_pairs(table_data, table_entries, _golomb_base_bits(k + table_entries, table_entries))
            if pp >= 16:
                raise CpcSerdeError("unexpected pseudo phase for sliding flavor")
            rows = pairs >> np.uint32(6)
            cols = (pairs & np.uint32(63)).astype(np.int64)
            cols = _PERM_DEC[pp][cols].astype(np.int64)       # undo permutation
            cols = (cols + (offset + 8)) & 63                  # undo rotation
            pairs = ((rows << np.uint32(6)) | cols.astype(np.uint32)).astype(np.uint32)
        matrix = _window_pairs_to_matrix(lg_k, offset, window, pairs)

    return {
        "lg_k": int(lg_k),
        "num_coupons": int(num_coupons),
        "matrix": matrix,
        "first_interesting_column": int(fic),
        "has_hip": has_hip,
        "kxp": float(kxp),
        "hip_est_accum": float(hip),
    }


def serialize_cpc(
    matrix: np.ndarray,
    lg_k: int,
    seed: int = 9001,
    kxp: float | None = None,
    hip_est_accum: float | None = None,
    first_interesting_column: int | None = None,
) -> bytes:
    """K-word uint64 coupon bit matrix → reference CPC bytes.

    Without kxp/hip_est_accum the stream is written as a MERGED sketch
    (no HIP registers — the engine's distributed union cannot maintain
    them), which every reference reader accepts and answers with the ICON
    estimator.  Pass both to preserve an imported single-stream sketch's
    HIP state verbatim."""
    matrix = np.ascontiguousarray(np.asarray(matrix, np.uint64))
    k = 1 << lg_k
    if len(matrix) != k:
        raise CpcSerdeError(f"matrix length {len(matrix)} != 2^lg_k ({k})")
    c = int(np.unpackbits(matrix.view(np.uint8)).sum())
    flav = _flavor(lg_k, c)
    has_hip = kxp is not None and hip_est_accum is not None

    window_data = np.empty(0, np.uint32)
    table_data = np.empty(0, np.uint32)
    table_entries = 0
    fic = 0

    if flav in ("sparse", "hybrid"):
        # every set bit becomes a pair; window is implicit
        rows, = np.nonzero(matrix)
        pair_list = []
        for r in rows:
            p = int(matrix[r])
            base = int(r) << 6
            while p:
                col = (p & -p).bit_length() - 1
                p &= p - 1
                pair_list.append(base | col)
        pairs = np.sort(np.array(pair_list, dtype=np.uint32))
        table_entries = len(pairs)
        if table_entries != c:
            raise CpcSerdeError("coupon count inconsistent with matrix")
        table_data = _compress_pairs(pairs, _golomb_base_bits(k + c, c))
        has_window = False
        has_table = True
    elif flav == "pinned":
        window, pairs, fic = _matrix_to_window_pairs(matrix, 0)
        if ((pairs & 63) < 8).any():
            raise CpcSerdeError("pinned flavor requires pair columns >= 8")
        enc = _ENC_BYTE[_pseudo_phase(lg_k, c)]
        window_data = _compress_bytes(window, enc)
        has_window = True
        has_table = len(pairs) > 0
        if has_table:
            shifted = np.sort((pairs - 8).astype(np.uint32))
            table_entries = len(shifted)
            table_data = _compress_pairs(shifted, _golomb_base_bits(k + table_entries, table_entries))
    elif flav == "sliding":
        offset = _correct_offset(lg_k, c)
        window, pairs, fic = _matrix_to_window_pairs(matrix, offset)
        pp = _pseudo_phase(lg_k, c)
        window_data = _compress_bytes(window, _ENC_BYTE[pp])
        has_window = True
        has_table = len(pairs) > 0
        if has_table:
            if pp >= 16:
                raise CpcSerdeError("unexpected pseudo phase for sliding flavor")
            rows = pairs >> np.uint32(6)
            cols = (pairs & np.uint32(63)).astype(np.int64)
            cols = (cols + 56 - offset) & 63                   # rotate
            if (cols >= 56).any():
                raise CpcSerdeError("sliding pair column out of range")
            cols = _PERM_ENC[pp][cols].astype(np.int64)        # permute
            shifted = np.sort(((rows << np.uint32(6)) | cols.astype(np.uint32)).astype(np.uint32))
            table_entries = len(shifted)
            table_data = _compress_pairs(shifted, _golomb_base_bits(k + table_entries, table_entries))
    else:  # empty
        has_window = False
        has_table = False

    if first_interesting_column is not None:
        fic = first_interesting_column
    preints = 2
    if c > 0:
        preints += 1
        if has_hip:
            preints += 4
        if has_table:
            preints += 1 + (1 if has_window else 0)
        if has_window:
            preints += 1
    flags = (
        (1 << _F_COMPRESSED)
        | ((1 << _F_HAS_HIP) if has_hip else 0)
        | ((1 << _F_HAS_TABLE) if has_table else 0)
        | ((1 << _F_HAS_WINDOW) if has_window else 0)
    )
    out = bytearray()
    out += struct.pack("<BBBBBBH", preints, _SER_VER, _FAMILY, lg_k, fic, flags,
                       _seed_hash(seed))
    if has_table or has_window:
        out += struct.pack("<I", c)
        if has_table and has_window:
            out += struct.pack("<I", table_entries)
            if has_hip:
                out += struct.pack("<dd", kxp, hip_est_accum)
        if has_table:
            out += struct.pack("<I", len(table_data))
        if has_window:
            out += struct.pack("<I", len(window_data))
        if has_hip and not (has_table and has_window):
            out += struct.pack("<dd", kxp, hip_est_accum)
        if has_window:
            out += window_data.astype("<u4").tobytes()
        if has_table:
            out += table_data.astype("<u4").tobytes()
    return bytes(out)


# ---------------------------------------------------------------------------
# Spark-level export/import (same shape as thetaserde.with_theta_bytes)
# ---------------------------------------------------------------------------


def with_cpc_bytes(sketch_df, out_col: str = "sketch_bytes", seed: int = 9001):
    """Append a BinaryType column of reference CPC wire blobs to a table
    carrying (lg_k int, coupons array<long>) rows — the shape
    `cpc.cpc_sketch_agg` emits.  Streams are written in merged mode (ICON
    estimator on the reader side); parquet-writable and consumable by any
    DataSketches deployment."""
    from pyspark.sql.types import BinaryType, StructField

    from ._twostage import map_rows

    def add_bytes(lg_ks, coupons):
        return [[
            serialize_cpc(np.asarray(arr, np.int64).view(np.uint64), int(lg_k), seed=seed)
            for lg_k, arr in zip(lg_ks, coupons)
        ]]

    return map_rows(
        sketch_df, ["lg_k", "coupons"], add_bytes, [StructField(out_col, BinaryType(), False)]
    )


def cpc_from_bytes(blob_df, bytes_col: str = "sketch_bytes", seed: int = 9001):
    """BinaryType reference CPC blobs → (lg_k int, coupons array<long>)
    rows ready for `cpc.cpc_union_agg` / `cpc.with_estimate`."""
    from pyspark.sql.types import ArrayType, IntegerType, LongType, StructField

    from ._twostage import map_rows

    def parse(blobs):
        states = [deserialize_cpc(bytes(b), seed=seed) for b in blobs]
        return [[s["lg_k"] for s in states], [s["matrix"].view(np.int64) for s in states]]

    out = [
        StructField("lg_k", IntegerType(), False),
        StructField("coupons", ArrayType(LongType(), False), False),
    ]
    return map_rows(blob_df, [bytes_col], parse, out, drop=[bytes_col])
