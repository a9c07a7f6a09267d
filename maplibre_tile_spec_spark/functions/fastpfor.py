"""FastPFOR physical-level codec (decode + encode), JavaFastPFOR wire format.

The reference's ``--enable-fastpfor`` path encodes integer streams with
``Composition(new FastPFOR(), new VariableByte())`` and ships the 32-bit
words big-endian (EncodingUtils.encodeFastPfor128:289-327,
VectorizedDecodingUtils.decodeFastPfor:11-32). The format, per lemire's
JavaFastPFOR library (Apache-2.0, public):

* ``Composition``: the first word is FastPFOR's claimed value count
  (a multiple of its 256-value block size; omitted when the input is
  shorter than one block), then FastPFOR pages; the remaining values
  follow VariableByte-encoded (7-bit groups, little-endian group order,
  HIGH bit set on the LAST byte — lemire's convention, not protobuf's),
  padded to a word boundary.
* FastPFOR page (≤65536 values): ``[where-meta]`` word (offset from the
  page header to the metadata section), then per-block bit-packed data
  (32-value lanes, LSB-first within each word); the metadata section is a
  byte container (one byte bit-width ``b``, one byte exception count,
  and, when exceptions exist, one byte max-bits plus the exception
  positions), word-padded and length-prefixed — bytes pack into words
  **little-endian** (the library's ByteBuffer order) — followed by an
  exception bitmap word and, per set bit-width ``k``, a count word and
  the exception high parts bit-packed at width ``k`` **tightly**
  (⌈size·k/32⌉ words; the final 32-lane group's trailing zero words are
  dropped). Exceptions with ``maxbits − b == 1`` store no packed parts
  (the high part is the constant 1). VariableByte bytes likewise pack
  little-endian into words.

Byte-level known answer: the reference's C++ test embeds four vectors
whose compressed words were generated by the JAVA ``encodeFastPfor128``
(``cpp/test/test_fastpfor.cpp:9-11``); our encoder reproduces all four
word-for-word (``tests/test_kernels.py::TestFastPfor``), which is what
pinned the little-endian container order and the tight exception layout.
Also round-trip property-tested; used behind stream-metadata
``plt == PLT_FASTPFOR`` so ``--enable-fastpfor`` tiles decode.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 256
PAGE_SIZE = 65536


# ---------------------------------------------------------------------------
# 32-value-lane bit packing (lemire BitPacking.fastpack/fastunpack semantics:
# value j of the 32-lane group occupies bits [j*b, (j+1)*b) of the packed
# words, LSB-first within each 32-bit word)
# ---------------------------------------------------------------------------


def _pack32(vals: np.ndarray, b: int) -> list[int]:
    """Pack 32 uint32 values at width b → b words."""
    if b == 0:
        return []
    out = [0] * b
    for j in range(32):
        v = int(vals[j]) & ((1 << b) - 1) if b < 32 else int(vals[j]) & 0xFFFFFFFF
        bit = j * b
        w, off = bit >> 5, bit & 31
        out[w] |= (v << off) & 0xFFFFFFFF
        if off + b > 32:
            out[w + 1] |= v >> (32 - off)
    return out


def _unpack32(words, pos: int, b: int) -> np.ndarray:
    """Unpack 32 values of width b from words[pos:]."""
    out = np.zeros(32, dtype=np.uint32)
    if b == 0:
        return out
    mask = 0xFFFFFFFF if b == 32 else (1 << b) - 1
    for j in range(32):
        bit = j * b
        w, off = bit >> 5, bit & 31
        v = int(words[pos + w]) >> off
        if off + b > 32:
            v |= int(words[pos + w + 1]) << (32 - off)
        out[j] = v & mask
    return out


# ---------------------------------------------------------------------------
# FastPFOR pages
# ---------------------------------------------------------------------------


def _bits(x: int) -> int:
    return x.bit_length()


def _best_b(block: np.ndarray) -> tuple[int, int, int]:
    """(best bit width, exception count, max bits) — FastPFOR cost model."""
    freqs = [0] * 33
    for v in block.tolist():
        freqs[_bits(int(v))] += 1
    maxb = 32
    while freqs[maxb] == 0:
        maxb -= 1
    best_b, best_c = maxb, 0
    best_cost = maxb * BLOCK_SIZE
    cexcept = 0
    for b in range(maxb - 1, -1, -1):
        cexcept += freqs[b + 1]
        if cexcept == BLOCK_SIZE:
            break
        cost = cexcept * 8 + cexcept * (maxb - b) + b * BLOCK_SIZE + 8
        if maxb - b == 1:
            cost -= cexcept
        if cost < best_cost:
            best_cost = cost
            best_b, best_c = b, cexcept
    return best_b, best_c, maxb


def _encode_page(vals: np.ndarray, out: list[int]) -> None:
    header_pos = len(out)
    out.append(0)  # where-meta placeholder
    byte_container = bytearray()
    to_pack: dict[int, list[int]] = {}
    for base in range(0, vals.shape[0], BLOCK_SIZE):
        block = vals[base : base + BLOCK_SIZE]
        b, cexcept, maxb = _best_b(block)
        byte_container.append(b)
        byte_container.append(cexcept)
        if cexcept > 0:
            byte_container.append(maxb)
            index = maxb - b
            for k in range(BLOCK_SIZE):
                v = int(block[k])
                if v >> b != 0:
                    byte_container.append(k)
                    if index != 1:
                        to_pack.setdefault(index, []).append(v >> b)
                    else:
                        to_pack.setdefault(1, []).append(v >> b)  # parts are 1; packed below per bitmap rule
        for k in range(0, BLOCK_SIZE, 32):
            out.extend(_pack32(block[k : k + 32], b))
    out[header_pos] = len(out) - header_pos
    # JavaFastPFOR records the UNPADDED container size and pads the bytes to
    # a word boundary (FastPFOR.encodePage: bytesize = position() before the
    # alignment loop); the decoder reads ceil(bytesize/4) words. Bytes pack
    # into words LITTLE-endian (the library's ByteBuffer order — anchored by
    # the reference's Java-generated vectors, test_fastpfor.cpp:9-11).
    out.append(len(byte_container))
    while len(byte_container) % 4 != 0:
        byte_container.append(0)
    for i in range(0, len(byte_container), 4):
        w = (
            byte_container[i]
            | (byte_container[i + 1] << 8)
            | (byte_container[i + 2] << 16)
            | (byte_container[i + 3] << 24)
        )
        out.append(w)
    bitmap = 0
    for k in range(2, 33):
        if to_pack.get(k):
            bitmap |= 1 << (k - 1)
    out.append(bitmap)
    for k in range(2, 33):
        arr = to_pack.get(k)
        if arr:
            out.append(len(arr))
            padded = np.zeros(((len(arr) + 31) // 32) * 32, dtype=np.uint32)
            padded[: len(arr)] = arr
            words: list[int] = []
            for j in range(0, len(arr), 32):
                words.extend(_pack32(padded[j : j + 32], k))
            # TIGHT: the last 32-group's trailing all-zero words are dropped
            # (total = ceil(size·k/32) words) — known-answer anchored
            out.extend(words[: (len(arr) * k + 31) // 32])


def _decode_page(words, pos: int, thissize: int, out: np.ndarray, outpos: int) -> tuple[int, int]:
    init = pos
    where_meta = int(words[pos])
    pos += 1
    inexcept = init + where_meta
    bytesize = int(words[inexcept])  # unpadded; container words are padded
    inexcept += 1
    bc = bytearray()
    nwords_bc = (bytesize + 3) // 4
    for i in range(nwords_bc):
        w = int(words[inexcept + i])
        # little-endian byte order within each container word
        bc += bytes([w & 0xFF, (w >> 8) & 0xFF, (w >> 16) & 0xFF, (w >> 24) & 0xFF])
    inexcept += nwords_bc
    bitmap = int(words[inexcept])
    inexcept += 1
    packed: dict[int, np.ndarray] = {}
    for k in range(2, 33):
        if bitmap & (1 << (k - 1)):
            size = int(words[inexcept])
            if size > thissize:
                raise ValueError(f"FastPFOR page of {thissize} values lists {size} exceptions")
            inexcept += 1
            # tight layout: ceil(size·k/32) words; re-pad locally so the
            # 32-lane unpacker can run on the final partial group
            tight = (size * k + 31) // 32
            ngroups = (size + 31) // 32
            local = np.zeros(ngroups * k, dtype=np.uint64)
            local[:tight] = np.asarray(words[inexcept : inexcept + tight], dtype=np.uint64)
            vals = np.zeros(ngroups * 32, dtype=np.uint32)
            for g in range(ngroups):
                vals[g * 32 : (g + 1) * 32] = _unpack32(local, g * k, k)
            inexcept += tight
            packed[k] = vals[:size]
    pointers: dict[int, int] = {}
    bi = 0
    for base in range(0, thissize, BLOCK_SIZE):
        b = bc[bi]
        cexcept = bc[bi + 1]
        bi += 2
        for k in range(0, BLOCK_SIZE, 32):
            out[outpos + base + k : outpos + base + k + 32] = _unpack32(words, pos, b)
            pos += b
        if cexcept > 0:
            maxbits = bc[bi]
            bi += 1
            index = maxbits - b
            if index == 1:
                for _ in range(cexcept):
                    p = bc[bi]
                    bi += 1
                    out[outpos + base + p] |= np.uint32(1 << b)
            else:
                dp = pointers.get(index, 0)
                arr = packed[index]
                for _ in range(cexcept):
                    p = bc[bi]
                    bi += 1
                    out[outpos + base + p] |= np.uint32(int(arr[dp]) << b) & np.uint32(0xFFFFFFFF)
                    dp += 1
                pointers[index] = dp
    return inexcept, outpos + thissize


# ---------------------------------------------------------------------------
# VariableByte (lemire convention: terminator bit on the LAST byte)
# ---------------------------------------------------------------------------


def _vbyte_encode(vals: np.ndarray, out: list[int]) -> None:
    if vals.shape[0] == 0:
        return
    bb = bytearray()
    for v in vals.tolist():
        v = int(v) & 0xFFFFFFFF
        while True:
            if v < 128:
                bb.append(v | 128)
                break
            bb.append(v & 127)
            v >>= 7
    while len(bb) % 4 != 0:
        bb.append(0)
    # little-endian byte order within each word (library ByteBuffer order)
    for i in range(0, len(bb), 4):
        out.append(bb[i] | (bb[i + 1] << 8) | (bb[i + 2] << 16) | (bb[i + 3] << 24))


def _vbyte_decode(words, pos: int, end: int, out: np.ndarray, outpos: int) -> int:
    v = 0
    shift = 0
    s = 0
    p = pos
    while p < end:
        c = (int(words[p]) >> s) & 0xFF
        s += 8
        if s == 32:
            s = 0
            p += 1
        v += (c & 127) << shift
        if c & 128:
            if outpos >= out.shape[0] or v > 0xFFFFFFFF:
                raise ValueError("VariableByte value past the stream's count or 32 bits")
            out[outpos] = v
            outpos += 1
            v = 0
            shift = 0
        else:
            shift += 7
    return outpos


# ---------------------------------------------------------------------------
# public API — Composition(FastPFOR, VariableByte) over big-endian words
# ---------------------------------------------------------------------------


def fastpfor_encode(values: np.ndarray) -> bytes:
    """uint32 values → the reference's FastPFOR byte stream."""
    vals = np.asarray(values, dtype=np.uint32)
    n = vals.shape[0]
    out: list[int] = []
    head = (n // BLOCK_SIZE) * BLOCK_SIZE
    if head > 0:
        out.append(head)
        for base in range(0, head, PAGE_SIZE):
            _encode_page(vals[base : min(base + PAGE_SIZE, head)], out)
    if not out and n > 0:
        # Composition: when F1 produced nothing, a zero head word precedes
        # the VariableByte remainder
        out.append(0)
    _vbyte_encode(vals[head:], out)
    return np.array(out, dtype=np.uint64).astype(">u4").tobytes()


def fastpfor_decode(buf: bytes, offset: int, num_values: int, byte_length: int) -> np.ndarray:
    """Reference byte stream → uint32 values (VectorizedDecodingUtils
    semantics: byteLength bytes from offset, big-endian words)."""
    if num_values > 128 * byte_length:  # 256-value blocks cost >= 2 bytes each
        raise ValueError(f"{byte_length} FastPFOR bytes cannot hold {num_values} values")
    nwords = (byte_length + 3) // 4
    words = np.frombuffer(buf, dtype=">u4", count=nwords, offset=offset).astype(np.uint64)
    out = np.zeros(num_values, dtype=np.uint32)
    pos = 0
    outpos = 0
    if nwords > 0:
        # FastPFOR.uncompress always consumes the head word (its claimed
        # multiple-of-256 value count, possibly zero)
        claimed = int(words[0])
        if claimed > num_values:
            raise ValueError(f"FastPFOR head claims {claimed} of {num_values} values")
        pos = 1
        remaining = claimed
        while remaining > 0:
            thissize = min(PAGE_SIZE, remaining)
            pos, outpos = _decode_page(words, pos, thissize, out, outpos)
            remaining -= thissize
    outpos = _vbyte_decode(words, pos, nwords, out, outpos)
    return out
