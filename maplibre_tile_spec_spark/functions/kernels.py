"""Vectorized numpy kernels for MLT-style stream encodings.

These are from-scratch numpy re-implementations of the *semantics* of the
reference encoder's stream codecs (studied, not copied, from
java/mlt-core/.../converter/encodings/EncodingUtils.java:60-344,
IntegerEncoder.java:211-365, ByteRleEncoder.java:1-104,
converter/geometry/{ZOrderCurve.java:9-47,HilbertCurve.java:8-26,
SpaceFillingCurve.java:10-45}). They run inside Arrow-batched pandas UDFs /
``applyInPandas`` groups, so every call processes a whole stream at once —
no per-row Python anywhere.

All integer streams use protobuf-style LEB128 varints at the physical level
(the reference's default VARINT path; FastPFOR is optional there and skipped
here), and the logical-level chain {NONE, DELTA, RLE, DELTA+RLE} is chosen
by exact byte-size argmin with the reference's gating rules:
  * RLE candidate only when ``len(values)/runs >= 2``
  * a constant stream (1 run) is FORCED to RLE
  * tie-break = first minimum in candidate order [plain, delta, rle, delta-rle]
  * RLE payload = runs (unsigned varint) ++ values (zigzag iff signed)
  * DELTA-RLE payload = runs ++ zigzag(delta values)
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

U64 = np.uint64
I64 = np.int64

# ---------------------------------------------------------------------------
# zigzag
# ---------------------------------------------------------------------------


def zigzag_encode(values: np.ndarray, bits: int = 32) -> np.ndarray:
    """Signed → unsigned: (v << 1) ^ (v >> (bits-1)), arithmetic shift."""
    if bits == 32:
        v = values.astype(np.int32)
        return ((v << np.int32(1)) ^ (v >> np.int32(31))).view(np.uint32)
    v = values.astype(np.int64)
    return ((v << np.int64(1)) ^ (v >> np.int64(63))).view(np.uint64)


def zigzag_decode(values: np.ndarray, bits: int = 32) -> np.ndarray:
    if bits == 32:
        v = values.astype(np.uint32)
        return ((v >> np.uint32(1)).view(np.int32)) ^ -(v.view(np.int32) & np.int32(1))
    v = values.astype(np.uint64)
    return ((v >> np.uint64(1)).view(np.int64)) ^ -(v.view(np.int64) & np.int64(1))


# ---------------------------------------------------------------------------
# delta
# ---------------------------------------------------------------------------


def wrap32(a: np.ndarray) -> np.ndarray:
    """Wrap int64 values into int32 two's-complement (Java int semantics)."""
    return ((a.astype(np.int64) + np.int64(2**31)) % np.int64(2**32)) - np.int64(2**31)


def delta_encode(values: np.ndarray, bits: int = 64) -> np.ndarray:
    """d[i] = v[i] - v[i-1] with v[-1] = 0 (reference EncodingUtils.encodeDeltas).

    bits=32 wraps like Java int arithmetic (deltas of extreme int32 values
    overflow and must wrap identically on both sides)."""
    v = values.astype(np.int64)
    d = np.diff(v, prepend=np.int64(0))
    return wrap32(d) if bits == 32 else d


def delta_decode(deltas: np.ndarray, bits: int = 64) -> np.ndarray:
    s = np.cumsum(deltas.astype(np.int64))
    return wrap32(s) if bits == 32 else s


# ---------------------------------------------------------------------------
# varint (LEB128, unsigned)
# ---------------------------------------------------------------------------


def varint_encode(values: np.ndarray) -> bytes:
    """Vectorized LEB128 encode of an unsigned integer array (≤64-bit)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.shape[0]
    if n == 0:
        return b""
    if n <= 256:
        # scalar fast path: stream headers/metadata encode 1-4 varints at a
        # time tens of thousands of times per corpus — the vectorized
        # path's fixed numpy setup (~55 µs) costs more than a plain byte
        # loop up to ~300 values (microbenched; encode-side twin of the
        # round-5 decode fast path; profiled 1.0 s of 5.6 s in the sf0.1
        # tile-encode kernel)
        out = bytearray()
        for x in v.tolist():
            while x >= 0x80:
                out.append((x & 0x7F) | 0x80)
                x >>= 7
            out.append(x)
        return bytes(out)
    # bytes needed per value: ceil(bitlength/7), min 1
    nb = np.ones(n, dtype=np.int64)
    tmp = v >> U64(7)
    while tmp.any():
        nb += (tmp > 0).astype(np.int64)
        tmp >>= U64(7)
    total = int(nb.sum())
    out = np.zeros(total, dtype=np.uint8)
    starts = np.cumsum(nb) - nb
    max_nb = int(nb.max())
    for k in range(max_nb):
        m = nb > k
        byte = ((v[m] >> U64(7 * k)) & U64(0x7F)).astype(np.uint8)
        cont = (nb[m] - 1 > k).astype(np.uint8) << np.uint8(7)
        out[starts[m] + k] = byte | cont
    return out.tobytes()


def varint_decode(buf: bytes | np.ndarray, count: int, offset: int = 0) -> tuple[np.ndarray, int]:
    """Vectorized LEB128 decode of ``count`` varints starting at ``offset``.

    Returns (uint64 array, new offset).
    """
    if count == 0:
        return np.empty(0, dtype=np.uint64), offset
    if count <= 4:
        # scalar fast path: stream-metadata headers decode 1-2 varints at a
        # time, 100k+ times per tile corpus — the vectorized path's numpy
        # setup (frombuffer/flatnonzero/arange/reduceat) costs ~10× a plain
        # byte loop at these sizes (decode-side profile, round 5)
        out = np.empty(count, dtype=np.uint64)
        p = offset
        end = len(buf)
        for i in range(count):
            v = 0
            shift = 0
            while True:
                if p >= end:
                    raise ValueError(f"varint stream truncated: need {count} values")
                b = int(buf[p])
                p += 1
                v |= (b & 0x7F) << shift
                if b < 0x80:
                    break
                shift += 7
                if shift > 63:
                    # match the vectorized path's failure surface: a run of
                    # 0x80 continuation bytes must fail loudly, not overflow
                    raise ValueError("varint too long (more than 10 bytes)")
            out[i] = v
        return out, p
    data = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    window = data[offset : offset + count * 10]  # max 10 bytes per varint
    term = np.flatnonzero(window < 0x80)
    if term.shape[0] < count:
        raise ValueError(f"varint stream truncated: need {count} values")
    ends = term[:count]
    nbytes_total = int(ends[-1]) + 1
    starts = np.concatenate(([0], ends[:-1] + 1))
    lens = ends - starts + 1
    chunk = window[:nbytes_total].astype(np.uint64) & U64(0x7F)
    pos = np.arange(nbytes_total, dtype=np.int64) - np.repeat(starts, lens)
    contrib = chunk << (pos.astype(np.uint64) * U64(7))
    vals = np.add.reduceat(contrib, starts)
    return vals, offset + nbytes_total


# ---------------------------------------------------------------------------
# run-length
# ---------------------------------------------------------------------------


def rle_encode(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """→ (runs, values) of consecutive equal elements (EncodingUtils.encodeRle)."""
    v = np.asarray(values)
    if v.shape[0] == 0:
        return np.empty(0, dtype=np.int64), v
    change = np.flatnonzero(v[1:] != v[:-1]) + 1
    starts = np.concatenate(([0], change))
    runs = np.diff(np.concatenate((starts, [v.shape[0]])))
    return runs.astype(np.int64), v[starts]


def rle_decode(runs: np.ndarray, values: np.ndarray) -> np.ndarray:
    return np.repeat(values, runs.astype(np.int64))


def num_runs(values: np.ndarray) -> int:
    v = np.asarray(values)
    if v.shape[0] == 0:
        return 0
    return int((v[1:] != v[:-1]).sum()) + 1


# ---------------------------------------------------------------------------
# boolean / byte RLE (ORC-flavoured, matches reference framing)
# ---------------------------------------------------------------------------


def byte_rle_encode(data: np.ndarray | bytes) -> bytes:
    """ORC byte-RLE: control 0x00-0x7F = run of (control+3) of next byte;
    control 0x80-0xFF = (256-control) literal bytes.

    Byte-exact port of ByteRleEncoder.java's streaming state machine — the
    boundary behavior matters for parity: a repeat straddling a flushed
    128-literal group is NOT converted to a run (tail-run state resets at
    every flush), and a literal group converts to a run only when exactly
    MIN_REPEAT (3) equal bytes accumulate at its tail."""
    b = np.frombuffer(data, dtype=np.uint8) if isinstance(data, (bytes, bytearray)) else data.astype(np.uint8)
    # fast path between "interesting" positions: process per equal-run, but
    # replicate the state machine's flush/reset rules exactly
    out = bytearray()
    lit = bytearray()
    state = {"repeat": False, "tail": 0}

    def flush():
        if lit:
            if state["repeat"]:
                out.append(len(lit) - 3)
                out.append(lit[0])
            else:
                out.append(256 - len(lit))
                out.extend(lit)
            state["repeat"] = False
            state["tail"] = 0
            lit.clear()

    for v in b.tolist():
        if not lit:
            lit.append(v)
            state["tail"] = 1
        elif state["repeat"]:
            if v == lit[0]:
                lit.append(v)
                if len(lit) == 130:  # MAX_REPEAT_SIZE
                    flush()
            else:
                flush()
                lit.append(v)
                state["tail"] = 1
        else:
            if v == lit[-1]:
                state["tail"] += 1
            else:
                state["tail"] = 1
            if state["tail"] == 3:  # MIN_REPEAT_SIZE
                if len(lit) + 1 == 3:
                    state["repeat"] = True
                    lit.append(v)
                else:
                    del lit[-2:]
                    tail_backup = state["tail"]
                    flush()
                    lit.extend([v, v, v])
                    state["repeat"] = True
                    state["tail"] = tail_backup
            else:
                lit.append(v)
                if len(lit) == 128:  # MAX_LITERAL_SIZE
                    flush()
    flush()
    return bytes(out)


def byte_rle_decode(buf: bytes, num_bytes: int, offset: int = 0) -> tuple[np.ndarray, int]:
    out = np.empty(num_bytes, dtype=np.uint8)
    data = np.frombuffer(buf, dtype=np.uint8)
    pos = offset
    filled = 0
    while filled < num_bytes:
        control = int(data[pos])
        pos += 1
        if control < 0x80:
            n = control + 3
            out[filled : filled + n] = data[pos]
            pos += 1
        else:
            n = 256 - control
            out[filled : filled + n] = data[pos : pos + n]
            pos += n
        filled += n
    return out, pos


def boolean_rle_encode(bits: np.ndarray) -> bytes:
    """Bit-pack (LSB-first within byte, like java.util.BitSet) then byte-RLE."""
    packed = np.packbits(bits.astype(np.uint8), bitorder="little")
    return byte_rle_encode(packed)


def boolean_rle_decode(buf: bytes, num_values: int, byte_length: int, offset: int = 0) -> tuple[np.ndarray, int]:
    num_bytes = (num_values + 7) // 8
    packed, _ = byte_rle_decode(buf, num_bytes, offset)
    bits = np.unpackbits(packed, bitorder="little")[:num_values]
    return bits.astype(bool), offset + byte_length


# ---------------------------------------------------------------------------
# integer stream: cost-based logical-level selection (IntegerEncoder semantics)
# ---------------------------------------------------------------------------

# LogicalLevelTechnique ordinals (metadata/stream/LogicalLevelTechnique.java:3-12)
LLT_NONE, LLT_DELTA, LLT_COMPONENTWISE_DELTA, LLT_RLE, LLT_MORTON, LLT_PDE = range(6)
# PhysicalLevelTechnique ordinals
PLT_NONE, PLT_FASTPFOR, PLT_VARINT, PLT_ALP = range(4)


@dataclass
class IntStreamEncoding:
    payload: bytes
    llt1: int
    llt2: int
    num_values: int  # after logical level (rle → runs+values count)
    num_runs: int  # 0 unless RLE chosen
    num_rle_values: int  # pre-RLE value count (for client preallocation)


def _physical_encoder(plt: int, bits: int):
    """Physical-level byte encoder: varint, or — for 32-bit streams under
    ``--enable-fastpfor`` — the JavaFastPFOR Composition stream
    (IntegerEncoder.encodeInt:249-258; longs always fall back to varint,
    IntegerEncoder.java:157)."""
    if plt == PLT_FASTPFOR and bits == 32:
        from maplibre_tile_spec_spark.functions.fastpfor import fastpfor_encode

        return lambda u: fastpfor_encode(np.asarray(u, dtype=np.uint64).astype(np.uint32))
    return varint_encode


def encode_int_stream(
    values: np.ndarray,
    signed: bool,
    bits: int = 32,
    plt: int = 2,
    long_auto_rle: bool = False,
) -> IntStreamEncoding:
    """Integer stream encoding at the given physical level (PLT_VARINT
    default; PLT_FASTPFOR for 32-bit streams on the advanced path).

    The logical level is the reference's AUTO selection (cost-based argmin
    over plain / delta / RLE / delta-RLE with gating, const-stream forcing
    and a first-min tie-break — IntegerEncoder.java:221-365).
    """
    v = values.astype(np.int64)
    n = v.shape[0]
    deltas = delta_encode(v, bits=bits)
    phys = _physical_encoder(plt, bits)

    def as_unsigned(a: np.ndarray, do_zigzag: bool) -> np.ndarray:
        if do_zigzag:
            return zigzag_encode(a, bits=bits).astype(np.uint64)
        if bits == 32:
            return a.astype(np.int64).astype(np.uint32).astype(np.uint64)
        return a.astype(np.int64).view(np.uint64)

    plain = phys(as_unsigned(v, signed))
    delta_enc = phys(as_unsigned(deltas, True))

    candidates: list[bytes | None] = [plain, delta_enc, None, None]
    if bits == 64 and not long_auto_rle:
        # FIXTURE-era LONG rule: the checked-in fixture corpus was generated
        # by a reference version whose encodeLong selected only plain vs
        # delta (no 64-bit stream in all 134 tiles is RLE/delta-RLE; 2-value
        # constant u64 id streams are DELTA). The CURRENT reference
        # IntegerEncoder.encodeLong:404-520 runs the full 4-candidate
        # selection with const-forcing, just like the int path — callers on
        # the CLI-parity path pass long_auto_rle=True for that behavior.
        idx64 = 0 if len(plain) <= len(delta_enc) else 1
        return IntStreamEncoding(
            candidates[idx64], LLT_DELTA if idx64 else LLT_NONE, LLT_NONE, n, 0, 0
        )
    runs_v = num_runs(v)
    runs_d = num_runs(deltas)
    rle_meta = (0, 0)
    drle_meta = (0, 0)
    is_const = False
    if runs_v > 0 and n / runs_v >= 2:
        r, vals = rle_encode(v)
        payload_vals = as_unsigned(vals, signed)
        payload = phys(np.concatenate([r.astype(np.uint64), payload_vals]))
        candidates[2] = payload
        rle_meta = (r.shape[0] + vals.shape[0], r.shape[0])
        is_const = r.shape[0] == 1
    if runs_d > 0 and n / runs_d >= 2:
        r, dvals = rle_encode(deltas)
        payload = phys(
            np.concatenate([r.astype(np.uint64), zigzag_encode(dvals, bits=bits).astype(np.uint64)])
        )
        candidates[3] = payload
        drle_meta = (r.shape[0] + dvals.shape[0], r.shape[0])

    sizes = [len(c) if c is not None else np.iinfo(np.int64).max for c in candidates]
    idx = 2 if is_const else int(np.argmin(sizes))  # np.argmin = first min, like indexOf(min)

    if idx == 0:
        return IntStreamEncoding(candidates[0], LLT_NONE, LLT_NONE, n, 0, 0)
    if idx == 1:
        return IntStreamEncoding(candidates[1], LLT_DELTA, LLT_NONE, n, 0, 0)
    if idx == 2:
        return IntStreamEncoding(candidates[2], LLT_RLE, LLT_NONE, rle_meta[0], runs_v, n)
    return IntStreamEncoding(candidates[3], LLT_DELTA, LLT_RLE, drle_meta[0], runs_d, n)


def decode_int_stream(
    buf: bytes,
    offset: int,
    num_values: int,
    byte_length: int,
    llt1: int,
    llt2: int,
    signed: bool,
    num_runs_meta: int = 0,
    num_rle_values: int = 0,
    bits: int = 32,
    plt: int = 2,  # PLT_VARINT
) -> tuple[np.ndarray, int]:
    """Inverse of encode_int_stream for the varint and FastPFOR physical
    levels (the latter decodes --enable-fastpfor tiles,
    VectorizedDecodingUtils.decodeFastPfor semantics)."""
    if plt == PLT_FASTPFOR:
        from maplibre_tile_spec_spark.functions.fastpfor import fastpfor_decode

        raw = fastpfor_decode(buf, offset, num_values, byte_length).astype(np.uint64)
    else:
        raw, _ = varint_decode(buf, num_values, offset)
    end = offset + byte_length
    if llt1 == LLT_RLE:
        runs = raw[:num_runs_meta].astype(np.int64)
        vals = raw[num_runs_meta:]
        if signed:
            vals = zigzag_decode(vals, bits=bits)
        elif bits == 32:
            # unsigned 32-bit values surface as signed Java ints in the
            # reference decoder (IntegerDecoder returns int[]): wrap
            vals = vals.astype(np.uint32).view(np.int32)
        else:
            vals = vals.view(np.int64)
        return rle_decode(runs, vals.astype(np.int64)), end
    if llt1 == LLT_DELTA and llt2 == LLT_RLE:
        runs = raw[:num_runs_meta].astype(np.int64)
        dvals = zigzag_decode(raw[num_runs_meta:], bits=bits).astype(np.int64)
        return delta_decode(rle_decode(runs, dvals), bits=bits), end
    if llt1 == LLT_DELTA:
        return delta_decode(zigzag_decode(raw, bits=bits), bits=bits), end
    if signed:
        return zigzag_decode(raw, bits=bits).astype(np.int64), end
    if bits == 32:
        # Java int semantics: values ≥ 2^31 wrap negative (see RLE branch)
        return raw.astype(np.uint32).view(np.int32).astype(np.int64), end
    return raw.view(np.int64), end


# ---------------------------------------------------------------------------
# componentwise zigzag-delta for interleaved vec2 vertex buffers
# ---------------------------------------------------------------------------


def vec2_zigzag_delta_encode(xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Per-component delta then zigzag, output interleaved [x0,y0,x1,y1,…]
    (GeometryEncoder.zigZagDeltaEncodeVertices semantics)."""
    dx = delta_encode(xs)
    dy = delta_encode(ys)
    out = np.empty(dx.shape[0] * 2, dtype=np.uint64)
    out[0::2] = zigzag_encode(dx, bits=32).astype(np.uint64)
    out[1::2] = zigzag_encode(dy, bits=32).astype(np.uint64)
    return out


def vec2_zigzag_delta_decode(interleaved: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    dx = zigzag_decode(interleaved[0::2].astype(np.uint64), bits=32)
    dy = zigzag_decode(interleaved[1::2].astype(np.uint64), bits=32)
    return delta_decode(dx), delta_decode(dy)


# ---------------------------------------------------------------------------
# space-filling curves
# ---------------------------------------------------------------------------


def sfc_bounds(min_v: int, max_v: int) -> tuple[int, int]:
    """(num_bits, coordinate_shift) per SpaceFillingCurve.java:10-22."""
    shift = abs(min_v) if min_v < 0 else 0
    extent = max_v + shift
    num_bits = int(np.ceil(np.log2(extent + 1))) if extent > 0 else 1
    return num_bits, shift


def _part1by1_u64(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each value to even bit positions."""
    v = v.astype(np.uint64) & U64(0xFFFFFFFF)
    v = (v | (v << U64(16))) & U64(0x0000FFFF0000FFFF)
    v = (v | (v << U64(8))) & U64(0x00FF00FF00FF00FF)
    v = (v | (v << U64(4))) & U64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << U64(2))) & U64(0x3333333333333333)
    v = (v | (v << U64(1))) & U64(0x5555555555555555)
    return v


def _compact1by1_u64(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & U64(0x5555555555555555)
    v = (v | (v >> U64(1))) & U64(0x3333333333333333)
    v = (v | (v >> U64(2))) & U64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> U64(4))) & U64(0x00FF00FF00FF00FF)
    v = (v | (v >> U64(8))) & U64(0x0000FFFF0000FFFF)
    v = (v | (v >> U64(16))) & U64(0x00000000FFFFFFFF)
    return v


def morton_encode(x: np.ndarray, y: np.ndarray, shift: int = 0) -> np.ndarray:
    """Z-order with x in even bits, y in odd bits (ZOrderCurve.java:9-18)."""
    xs = (np.asarray(x).astype(np.int64) + shift).astype(np.uint64)
    ys = (np.asarray(y).astype(np.int64) + shift).astype(np.uint64)
    return _part1by1_u64(xs) | (_part1by1_u64(ys) << U64(1))


def morton_decode(codes: np.ndarray, shift: int = 0) -> tuple[np.ndarray, np.ndarray]:
    c = np.asarray(codes).astype(np.uint64)
    x = _compact1by1_u64(c).astype(np.int64) - shift
    y = _compact1by1_u64(c >> U64(1)).astype(np.int64) - shift
    return x, y


def hilbert_encode(x: np.ndarray, y: np.ndarray, order: int, shift: int = 0) -> np.ndarray:
    """Vectorized 2-D Hilbert index (standard xy2d rotation walk), same
    curve orientation as org.davidmoten SmallHilbertCurve used by the
    reference (HilbertCurve.java:8-26); verified against test vectors."""
    hx = (np.asarray(x).astype(np.int64) + shift).copy()
    hy = (np.asarray(y).astype(np.int64) + shift).copy()
    d = np.zeros(hx.shape[0], dtype=np.int64)
    s = np.int64(1) << np.int64(order - 1)
    while s > 0:
        rx = ((hx & s) > 0).astype(np.int64)
        ry = ((hy & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        swap = ry == 0
        flip = swap & (rx == 1)
        nx = np.where(flip, s - 1 - hx, hx)
        ny = np.where(flip, s - 1 - hy, hy)
        hx, hy = np.where(swap, ny, nx), np.where(swap, nx, ny)
        s >>= 1
    return d


def hilbert_decode(d: np.ndarray, order: int, shift: int = 0) -> tuple[np.ndarray, np.ndarray]:
    t = np.asarray(d).astype(np.int64).copy()
    x = np.zeros(t.shape[0], dtype=np.int64)
    y = np.zeros(t.shape[0], dtype=np.int64)
    s = np.int64(1)
    n = np.int64(1) << np.int64(order)
    while s < n:
        rx = (t // 2) & 1
        ry = (t ^ rx) & 1
        # rotate
        swap = ry == 0
        flip = swap & (rx == 1)
        nx = np.where(flip, s - 1 - x, x)
        ny = np.where(flip, s - 1 - y, y)
        x, y = np.where(swap, ny, nx), np.where(swap, nx, ny)
        x = x + s * rx
        y = y + s * ry
        t //= 4
        s <<= np.int64(1)
    return x - shift, y - shift


# ---------------------------------------------------------------------------
# stream metadata packing (StreamMetadata.java:53-94 layout)
# ---------------------------------------------------------------------------

# PhysicalStreamType ordinals
PST_PRESENT, PST_DATA, PST_OFFSET, PST_LENGTH = range(4)


def pack_stream_metadata(
    physical_stream_type: int,
    logical_type: int,
    llt1: int,
    llt2: int,
    plt: int,
    num_values: int,
    byte_length: int,
    extra: tuple[int, ...] = (),
) -> bytes:
    """2 packed bytes + varints: the per-stream header. ``extra`` carries the
    RLE (runs, numRleValues) or Morton (numBits, coordinateShift) suffix."""
    b0 = (physical_stream_type << 4) | logical_type
    b1 = (llt1 << 5) | (llt2 << 2) | plt
    tail = varint_encode(np.array([num_values, byte_length, *extra], dtype=np.uint64))
    return bytes([b0, b1]) + tail


def unpack_stream_metadata(buf: bytes, offset: int) -> tuple[dict, int]:
    data = np.frombuffer(buf, dtype=np.uint8)
    b0 = int(data[offset])
    b1 = int(data[offset + 1])
    meta = {
        "physical_stream_type": b0 >> 4,
        "logical_type": b0 & 0xF,
        "llt1": b1 >> 5,
        "llt2": (b1 >> 2) & 0x7,
        "plt": b1 & 0x3,
    }
    vals, pos = varint_decode(buf, 2, offset + 2)
    meta["num_values"], meta["byte_length"] = int(vals[0]), int(vals[1])
    # dispatch per StreamMetadataDecoder.java: MORTON first; RLE extras only
    # when a physical technique is present (boolean RLE has plt=NONE, no extras)
    if meta["llt1"] == LLT_MORTON:
        vals, pos = varint_decode(buf, 2, pos)
        meta["num_bits"], meta["coordinate_shift"] = int(vals[0]), int(vals[1])
    elif (meta["llt1"] == LLT_RLE or meta["llt2"] == LLT_RLE) and meta["plt"] != PLT_NONE:
        vals, pos = varint_decode(buf, 2, pos)
        meta["runs"], meta["num_rle_values"] = int(vals[0]), int(vals[1])
    return meta, pos
