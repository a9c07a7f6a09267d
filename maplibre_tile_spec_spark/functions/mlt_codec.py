"""MLT (MapLibre Tile, tag 0x01) tile codec — from-scratch numpy implementation.

Produces/consumes the reference's embedded-metadata tile format so that our
Spark-assembled tiles are genuine MLT tiles and the reference's expected
fixture tiles (/root/reference/test/expected/tag0x01/**) can be decoded for
feature-membership parity.

Format knowledge (studied, not copied):
* framing: varint(length) + varint(tag=1) + body;
  java/.../decoder/MltDecoder.java:34-53, writer MltConverter.java:495-508
* embedded metadata: utf8 name + extent + column type-codes;
  MltConverter.createEmbeddedMetadata:319-352, type codes
  MltTypeMap.java:18-112, decode MltDecoder.parseEmbeddedMetadata:169-179
* per-column streams: MltDecoder.decodeMltLayer:56-115
* geometry streams + topology walk: GeometryEncoder.java:525-817,
  GeometryDecoder.java:29-303
* scalar/string property streams: PropertyEncoder.java:222-518,
  StringDecoder.java:140-238, BooleanEncoder.java:18-45
* integer stream selection: IntegerEncoder.java:221-365 (via kernels.py)

Supported by encode, decode, re-encode and inspect: ID (u32/u64; nullable
ID columns are read), GEOMETRY (plain / Hilbert-dict / Morton-dict vertex
encodings, or the pretessellated layout: decode returns its triangle and
index streams, re-encode recomputes them with earcut), BOOLEAN,
INT_32/UINT_32/INT_64/UINT_64, FLOAT/DOUBLE, STRING (plain / dictionary /
FSST dictionary) and shared-dictionary STRUCT; behind
``LayerData.extensions``, GEOMETRY_Z, LIST, MAP, VEC2/VEC3, RANGE_MAP and
the logical DATE/TIMESTAMP/JSON types. Decode and re-encode read a layer
with one column walk (``_read_layer``); ``inspect_tile`` walks stream
headers only.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np

from maplibre_tile_spec_spark.functions import kernels as K

TAG_EMBEDDED = 1
#: frame tag for layers that carry beyond-reference extension type codes
#: (GEOMETRY_Z/LIST/MAP/VEC/RANGE_MAP/DATE/TIMESTAMP/JSON). A distinct tag
#: makes extension tiles self-describing: reference decoders (which only
#: accept tag 0x01) skip or fail fast instead of mis-parsing, and stored
#: corpora stay unambiguous if upstream ever assigns codes 32–48. Chosen
#: outside the reference's tag space (MltDecoder.java only defines 1).
TAG_EXTENDED = 2

# MLT GeometryType ordinals (converter/geometry/GeometryType.java)
MLT_POINT, MLT_LINESTRING, MLT_POLYGON, MLT_MULTIPOINT, MLT_MULTILINESTRING, MLT_MULTIPOLYGON = range(6)

# type codes (MltTypeMap.Tag0x01)
TC_ID_U32, TC_ID_U32_NULL, TC_ID_U64, TC_ID_U64_NULL, TC_GEOMETRY = 0, 1, 2, 3, 4
# GEOMETRY_Z (spec ComplexType GEOMETRY_Z=3, vec3<int32>): code 5 is
# unassigned in the reference's MltTypeMap — the natural slot next to
# GEOMETRY. Layout = the standard geometry streams + one trailing signed
# z data stream (one value per vertex).
TC_GEOMETRY_Z = 5
TC_STRUCT = 30
# spec complex types the reference's shipping encoder never emits
# (specification.md LIST=4 / MAP=5 under the COMPLEX_TYPE flag); framed here
# with this codec's even/odd nullable convention like the scalar codes
TC_LIST = 32
TC_MAP = 34
TC_VEC2 = 36
TC_VEC3 = 38
TC_RANGE_MAP = 40
_SCALAR_CODES = {
    "boolean": 10,
    "int8": 12,
    "uint8": 14,
    "int32": 16,
    "uint32": 18,
    "int64": 20,
    "uint64": 22,
    "float": 24,
    "double": 26,
    "string": 28,
}
_CODE_TO_SCALAR = {v: k for k, v in _SCALAR_CODES.items()}
# logical scalar types (spec LogicalScalarType: TIMESTAMP=0, DATE=1, JSON=2;
# "Date = int32 days since epoch, Timestamp = int64 ms, JSON = string").
# The reference's Tag0x01 map has no codes for them (encodeColumnType
# returns empty) — framed here above the scalar range, physical layout
# delegated to the underlying scalar stream encoders.
_LOGICAL_CODES = {"date": 44, "timestamp": 46, "json": 48}
_CODE_TO_LOGICAL = {v: k for k, v in _LOGICAL_CODES.items()}
_LOGICAL_PHYSICAL = {"date": "int32", "timestamp": "int64", "json": "string"}

# LengthType ordinals
LT_VAR_BINARY, LT_GEOMETRIES, LT_PARTS, LT_RINGS, LT_TRIANGLES, LT_SYMBOL, LT_DICTIONARY = range(7)
# OffsetType ordinals
OT_VERTEX, OT_INDEX, OT_STRING, OT_KEY = range(4)
# DictionaryType ordinals
DT_NONE, DT_SINGLE, DT_SHARED, DT_VERTEX, DT_MORTON, DT_FSST = range(6)


# ---------------------------------------------------------------------------
# data model
# ---------------------------------------------------------------------------


@dataclass
class GeometryColumn:
    """SoA topology, reference stream layout (specification.md:389-411).

    num_parts carries rings-per-polygon when the column contains polygons,
    else vertices-per-linestring; num_rings carries vertices-per-ring
    (closing vertex dropped, GeometryEncoder.flatPolygon). Build one from
    per-feature vertex runs with ``geometry_column``.
    """

    types: np.ndarray  # MLT ordinals, one per feature
    num_geometries: np.ndarray  # per multi* feature
    num_parts: np.ndarray
    num_rings: np.ndarray
    vertices: np.ndarray  # interleaved int32 [x0,y0,x1,y1,...]
    z: np.ndarray | None = None  # per-vertex elevations → GEOMETRY_Z column


def geometry_column(features: list[tuple[int, list[list[np.ndarray]]]]) -> GeometryColumn:
    """Per feature (mlt_type, parts[runs[(n, 2) int array]]) → the SoA
    topology; the inverse of ``geometry_to_features`` with polygon rings
    passed open and one one-vertex run per MULTIPOINT point. The one place
    that applies the reference layout (GeometryEncoder.encodeGeometryColumn:
    525-612): polygon rings store no closing vertex, and LINESTRING run
    lengths go to num_rings once the column holds any polygon."""
    types, num_geoms, num_parts, num_rings = [], [], [], []
    runs: list[np.ndarray] = []
    polygonal = (MLT_POLYGON, MLT_MULTIPOLYGON)
    line_lengths = num_rings if any(t in polygonal for t, _ in features) else num_parts
    for t, parts in features:
        types.append(t)
        if t in (MLT_MULTIPOINT, MLT_MULTILINESTRING, MLT_MULTIPOLYGON):
            num_geoms.append(len(parts))
        for part in parts:
            if t in polygonal:
                num_parts.append(len(part))
                num_rings.extend(r.shape[0] for r in part)
            elif t in (MLT_LINESTRING, MLT_MULTILINESTRING):
                line_lengths.extend(r.shape[0] for r in part)
            runs.extend(part)
    return GeometryColumn(
        types=np.array(types, dtype=np.int64),
        num_geometries=np.array(num_geoms, dtype=np.int64),
        num_parts=np.array(num_parts, dtype=np.int64),
        num_rings=np.array(num_rings, dtype=np.int64),
        vertices=np.concatenate(runs).astype(np.int64, copy=False).ravel() if runs else np.empty(0, np.int64),
    )


@dataclass
class PropColumn:
    name: str
    type: str  # key of _SCALAR_CODES
    values: list  # python values, None = null
    nullable: bool = True
    use_fsst: bool = False  # consider the FSST-dictionary string candidate


@dataclass
class StructColumn:
    """Shared-dictionary struct (the reference's `name:*` column family,
    PropertyEncoder.encodeStructPropertyColumn / StringEncoder.
    encodeSharedDictionary): children are nullable string columns sharing
    one first-seen-order dictionary."""

    name: str  # root prefix, e.g. "name"
    children: list[tuple[str, list]]  # (suffix e.g. "" / ":en", values with None)


@dataclass
class ListColumn:
    """Variable-size LIST column (specification.md:229-340, ComplexType
    LIST + present/length-pair nested-field encoding). NOT emitted by the
    reference's shipping encoder (MltTypeMap.java stops at struct-of-string)
    — this implements the spec-described layout: optional PRESENT stream,
    LENGTH stream (collection sizes), then the flattened child value
    streams reusing the scalar encoders, in pre-order."""

    name: str
    elem_type: str  # key of _SCALAR_CODES
    values: list  # list[list | None]
    nullable: bool = True


@dataclass
class MapColumn:
    """MAP column (ComplexType MAP): present/length pair + flattened key
    and value string streams ("length, key, data streams" per the spec's
    map row). Keys and values are strings — the OSM-style tag map."""

    name: str
    values: list  # list[dict[str, str] | None]
    nullable: bool = True


@dataclass
class VecColumn:
    """Fixed-size VEC_2/VEC_3 column (ComplexType VEC_2=0/VEC_1, spec type
    table "Vec2<T>, Vec3<T> ... Fixed-Size"): no length stream — one data
    stream of dims-interleaved components. ``elem_type`` int32/int64 uses
    the integer stream encoders; float/double stores f64 LE (vectors carry
    real-valued semantics, unlike the reference's f32-coerced scalar
    floats)."""

    name: str
    elem_type: str  # int32 | int64 | float | double
    values: list  # list[tuple | None], each of len dims
    dims: int = 2
    nullable: bool = True


@dataclass
class RangeMapColumn:
    """RANGE_MAP logical type (spec "RangeMap ... Map<vec2<Double>, T>"):
    per-feature sets of (lo, hi) → string value for linear referencing.
    RangeSets store ranges and data in separate streams: LENGTH (entries
    per feature) + RANGE stream (interleaved f64 min/max) + flattened
    value string streams."""

    name: str
    values: list  # list[list[tuple[float, float, str]] | None]
    nullable: bool = True


@dataclass
class LayerData:
    name: str
    extent: int
    geometry: GeometryColumn
    ids: np.ndarray | None = None
    has_long_ids: bool = False
    props: list[PropColumn] = field(default_factory=list)
    structs: list[StructColumn] = field(default_factory=list)
    lists: list[ListColumn] = field(default_factory=list)
    maps: list[MapColumn] = field(default_factory=list)
    vecs: list[VecColumn] = field(default_factory=list)
    range_maps: list[RangeMapColumn] = field(default_factory=list)
    tessellate: bool = False  # emit the 7-stream pretessellated layout
    use_fsst: bool = False  # consider FSST candidates for string/struct columns
    plt: int = 2  # physical level technique (K.PLT_VARINT; PLT_FASTPFOR = advanced path)
    # current-reference encodeLong AUTO rules (full RLE selection) vs the
    # fixture-era plain/delta-only rule the checked-in corpus requires
    long_auto_rle: bool = False
    # opt-in for columns using EXTENSION type codes (5, 32-48: GEOMETRY_Z,
    # LIST/MAP/VEC/RANGE_MAP, DATE/TIMESTAMP/JSON). These code points are
    # unassigned in the reference's MltTypeMap.decodeColumnType, which
    # throws on them — a tile carrying such columns is NOT decodable by
    # reference consumers, and a future upstream assignment would make
    # stored tiles ambiguous. Encoding raises unless this is set (ADVICE
    # r3); COVERAGE.md documents the reservation.
    extensions: bool = False


# ---------------------------------------------------------------------------
# small helpers
# ---------------------------------------------------------------------------


def _varint1(v: int) -> bytes:
    return K.varint_encode(np.array([v], dtype=np.uint64))


def _put_string(s: str) -> bytes:
    b = s.encode("utf-8")
    return _varint1(len(b)) + b


def _get_string(buf: bytes, pos: int) -> tuple[str, int]:
    n, pos = K.varint_decode(buf, 1, pos)
    ln = int(n[0])
    return bytes(buf[pos : pos + ln]).decode("utf-8"), pos + ln


def _int_stream(
    values: np.ndarray,
    signed: bool,
    pst: int,
    logical_type: int,
    bits: int = 32,
    plt: int = K.PLT_VARINT,
    long_auto_rle: bool = False,
) -> bytes:
    """IntegerEncoder.encodeIntStream: AUTO-selected payload + metadata.
    64-bit streams always use varint (IntegerEncoder.java:157);
    ``long_auto_rle`` selects current-reference vs fixture-era long rules."""
    if bits == 64:
        plt = K.PLT_VARINT
    r = K.encode_int_stream(values, signed=signed, bits=bits, plt=plt, long_auto_rle=long_auto_rle)
    extra = (r.num_runs, r.num_rle_values) if (r.llt1 == K.LLT_RLE or r.llt2 == K.LLT_RLE) else ()
    meta = K.pack_stream_metadata(
        pst, logical_type, r.llt1, r.llt2, plt, r.num_values, len(r.payload), extra
    )
    return meta + r.payload


def _decode_int_stream_with_meta(buf: bytes, pos: int, meta: dict, signed: bool, bits: int = 32) -> tuple[np.ndarray, int]:
    return K.decode_int_stream(
        buf,
        pos,
        meta["num_values"],
        meta["byte_length"],
        meta["llt1"],
        meta["llt2"],
        signed,
        num_runs_meta=meta.get("runs", 0),
        num_rle_values=meta.get("num_rle_values", 0),
        bits=bits,
        plt=meta["plt"],
    )


def _boolean_stream(bits: np.ndarray, pst: int) -> bytes:
    payload = K.boolean_rle_encode(bits)
    meta = K.pack_stream_metadata(pst, 0, K.LLT_RLE, K.LLT_NONE, K.PLT_NONE, bits.shape[0], len(payload))
    return meta + payload


# ---------------------------------------------------------------------------
# geometry column encode (GeometryEncoder.encodeGeometryColumn semantics)
# ---------------------------------------------------------------------------


def encode_geometry_column(
    g: GeometryColumn,
    use_morton: bool = True,
    pretess_selection: bool = False,
    plt: int = K.PLT_VARINT,
) -> tuple[int, bytes]:
    """→ (num_streams, stream bytes). Candidate selection among plain /
    Hilbert-dict / Morton-dict by encoded payload size, reference tie-breaks
    (GeometryEncoder.java:744-816). ``pretess_selection`` reproduces the
    pre-tessellation path's rule (GeometryEncoder.java:345-361, the one the
    fixture corpus was generated through, always with morton disabled):
    plain only if it beats BOTH the dict and the morton candidate sizes,
    else dict — morton itself is never emitted."""
    phys = K._physical_encoder(plt, 32)
    xs = g.vertices[0::2].astype(np.int64)
    ys = g.vertices[1::2].astype(np.int64)
    out = _int_stream(g.types.astype(np.int64), False, K.PST_LENGTH, 0, plt=plt)
    num_streams = 1
    for arr, lt in ((g.num_geometries, LT_GEOMETRIES), (g.num_parts, LT_PARTS), (g.num_rings, LT_RINGS)):
        if arr is not None and len(arr) > 0:
            out += _int_stream(np.asarray(arr, dtype=np.int64), False, K.PST_LENGTH, lt, plt=plt)
            num_streams += 1

    if xs.shape[0] == 0:
        raise ValueError("geometry column contains no vertices")

    min_v = int(min(xs.min(), ys.min()))
    max_v = int(max(xs.max(), ys.max()))
    num_bits, shift = K.sfc_bounds(min_v, max_v)

    # plain candidate. NOTE (bug-compatible by design): the reference
    # compares the AUTO-selected encodeInt candidate sizes
    # (GeometryEncoder.java:652-672, 744-752) but then EMITS the plain and
    # dict vertex streams as raw varint(zigzag-delta) — so the compared
    # size can differ from the emitted size and the argmin can pick a
    # layout larger than an alternative. Reproducing that exact comparison
    # is required for byte parity (omt fixtures flip Hilbert↔Morton on it).
    zz = K.vec2_zigzag_delta_encode(xs, ys)
    plain_enc = K.encode_int_stream(zz.astype(np.int64), signed=False, plt=plt)
    plain_size = len(plain_enc.payload)

    # hilbert dictionary candidate
    hil = K.hilbert_encode(xs, ys, order=num_bits, shift=shift)
    hil_sorted, first_idx = np.unique(hil, return_index=True)
    dict_xs = xs[first_idx]
    dict_ys = ys[first_idx]
    offsets = np.searchsorted(hil_sorted, hil)
    zz_dict = K.vec2_zigzag_delta_encode(dict_xs, dict_ys)
    dict_enc = K.encode_int_stream(zz_dict.astype(np.int64), signed=False, plt=plt)
    off_enc = K.encode_int_stream(offsets.astype(np.int64), signed=False, plt=plt)
    dict_size = len(dict_enc.payload) + len(off_enc.payload)

    # morton dictionary candidate (encodeMortonCodes: delta, no zigzag,
    # then the physical technique directly)
    mort = K.morton_encode(xs, ys, shift=shift).astype(np.int64)
    mort_sorted = np.unique(mort)
    m_offsets = np.searchsorted(mort_sorted, mort)
    m_deltas = K.delta_encode(mort_sorted)
    m_dict_payload = phys(m_deltas.astype(np.uint64))
    m_off_enc = K.encode_int_stream(m_offsets.astype(np.int64), signed=False, plt=plt)
    morton_size = len(m_dict_payload) + len(m_off_enc.payload)

    if pretess_selection:
        pick_plain = plain_size <= dict_size and plain_size <= morton_size
        pick_dict = not pick_plain
    else:
        pick_plain = plain_size <= dict_size and (not use_morton or plain_size <= morton_size)
        pick_dict = dict_size < plain_size and (not use_morton or dict_size <= morton_size)
    if pick_plain:
        vert_payload = phys(zz)
        meta = K.pack_stream_metadata(
            K.PST_DATA, DT_VERTEX, K.LLT_COMPONENTWISE_DELTA, K.LLT_NONE, plt,
            zz.shape[0], len(vert_payload),
        )
        return num_streams + 1, out + meta + vert_payload
    if pick_dict:
        off_extra = (off_enc.num_runs, off_enc.num_rle_values) if off_enc.num_runs else ()
        off_meta = K.pack_stream_metadata(
            K.PST_OFFSET, OT_VERTEX, off_enc.llt1, off_enc.llt2, plt,
            off_enc.num_values, len(off_enc.payload), off_extra,
        )
        dict_payload = phys(zz_dict)
        dict_meta = K.pack_stream_metadata(
            K.PST_DATA, DT_VERTEX, K.LLT_COMPONENTWISE_DELTA, K.LLT_NONE, plt,
            zz_dict.shape[0], len(dict_payload),
        )
        return num_streams + 2, out + off_meta + off_enc.payload + dict_meta + dict_payload
    # morton path
    m_off_extra = (m_off_enc.num_runs, m_off_enc.num_rle_values) if m_off_enc.num_runs else ()
    m_off_meta = K.pack_stream_metadata(
        K.PST_OFFSET, OT_VERTEX, m_off_enc.llt1, m_off_enc.llt2, plt,
        m_off_enc.num_values, len(m_off_enc.payload), m_off_extra,
    )
    m_dict_meta = K.pack_stream_metadata(
        K.PST_DATA, DT_MORTON, K.LLT_MORTON, K.LLT_DELTA, plt,
        mort_sorted.shape[0], len(m_dict_payload), (num_bits, shift),
    )
    return num_streams + 2, out + m_off_meta + m_off_enc.payload + m_dict_meta + m_dict_payload


def encode_geometry_column_pretessellated(g: GeometryColumn) -> tuple[int, bytes]:
    """Pretessellated + outlines layout (7 streams, GeometryEncoder.
    encodePretessellatedGeometryColumn:40-416 with outlines): types,
    GEOMETRIES (written even when empty), PARTS, RINGS, TRIANGLES,
    OFFSET(INDEX), DATA(vertex buffer). Triangles come from the earcut
    reimplementation (functions/earcut.py) in reference order — byte-
    identical to the fixture triangle streams. Triangle indices are local
    to each feature's vertex range; multipolygon members accumulate a
    per-member vertex offset (TessellationUtils.tessellateMultiPolygon)."""
    from maplibre_tile_spec_spark.functions import tessellation as TS

    xs = g.vertices[0::2].astype(np.int64)
    ys = g.vertices[1::2].astype(np.int64)
    if xs.shape[0] == 0:
        raise ValueError("geometry column contains no vertices")

    n_tris: list[int] = []
    index_buffer: list[int] = []
    for t, parts in geometry_to_features(g):
        if t not in (MLT_POLYGON, MLT_MULTIPOLYGON):
            continue
        total = base = 0
        for rings in parts:
            rings = [r[:-1].astype(float) for r in rings]  # triangulate takes open rings
            tris = TS.triangulate(rings)
            total += tris.shape[0]
            index_buffer.extend((tris.ravel() + base).tolist())
            base += sum(r.shape[0] for r in rings)
        n_tris.append(total)

    out = _int_stream(g.types.astype(np.int64), False, K.PST_LENGTH, 0)
    out += _int_stream(np.asarray(g.num_geometries, dtype=np.int64), False, K.PST_LENGTH, LT_GEOMETRIES)
    out += _int_stream(np.asarray(g.num_parts, dtype=np.int64), False, K.PST_LENGTH, LT_PARTS)
    out += _int_stream(np.asarray(g.num_rings, dtype=np.int64), False, K.PST_LENGTH, LT_RINGS)
    out += _int_stream(np.array(n_tris, dtype=np.int64), False, K.PST_LENGTH, LT_TRIANGLES)
    out += _int_stream(np.array(index_buffer, dtype=np.int64), False, K.PST_OFFSET, OT_INDEX)
    zz = K.vec2_zigzag_delta_encode(xs, ys)
    out += K.pack_stream_metadata(
        K.PST_DATA, DT_VERTEX, K.LLT_COMPONENTWISE_DELTA, K.LLT_NONE, K.PLT_VARINT,
        zz.shape[0], len(K.varint_encode(zz)),
    )
    out += K.varint_encode(zz)
    return 7, out


# ---------------------------------------------------------------------------
# property column encode
# ---------------------------------------------------------------------------


def encode_prop_column(col: PropColumn, plt: int = K.PLT_VARINT, long_auto_rle: bool = False) -> bytes:
    if col.type in _LOGICAL_PHYSICAL:  # logical type → physical layout
        col = PropColumn(
            col.name, _LOGICAL_PHYSICAL[col.type], col.values, col.nullable, col.use_fsst
        )
    present = np.array([v is not None for v in col.values])
    nn = [v for v in col.values if v is not None]
    out = b""
    if col.type == "string":
        # string columns carry a stream count (MltTypeMap.hasStreamCount)
        n_streams = 0
        body = b""
        if col.nullable:
            body += _boolean_stream(present, K.PST_PRESENT)
            n_streams += 1
        body_str, n_str = _encode_string_streams(nn, use_fsst=col.use_fsst, plt=plt)
        return _varint1(n_streams + n_str) + body + body_str
    if col.nullable:
        out += _boolean_stream(present, K.PST_PRESENT)
    if col.type == "boolean":
        out += _boolean_stream(np.array([bool(v) for v in nn]), K.PST_DATA)
    elif col.type in ("int32", "uint32"):
        out += _int_stream(np.array(nn, dtype=np.int64), col.type == "int32", K.PST_DATA, DT_NONE, bits=32, plt=plt)
    elif col.type in ("int64", "uint64"):
        out += _int_stream(
            np.array(nn, dtype=np.int64), col.type == "int64", K.PST_DATA, DT_NONE, bits=64,
            long_auto_rle=long_auto_rle,
        )
    elif col.type in ("float", "double"):
        # the reference stores BOTH widths as 4-byte IEEE754 LE — doubles are
        # coerced to float on encode (PropertyEncoder.getFloatPropertyValue,
        # FloatDecoder reads f32 for either type code)
        payload = np.array(nn, dtype=np.float32).tobytes()
        out += K.pack_stream_metadata(K.PST_DATA, DT_NONE, K.LLT_NONE, K.LLT_NONE, K.PLT_NONE, len(nn), len(payload))
        out += payload
    else:
        raise ValueError(f"unsupported property type {col.type}")
    return out


def _encode_string_streams(
    values: list[str], use_fsst: bool = False, plt: int = K.PLT_VARINT
) -> tuple[bytes, int]:
    """Candidate argmin among plain / dict / fsst-dict by byte size
    (StringEncoder.encode:134-172; fsst optional like --enable-fsst)."""
    utf8 = [v.encode("utf-8") for v in values]
    # plain: LENGTH(VAR_BINARY) + DATA(NONE)
    lengths = np.array([len(b) for b in utf8], dtype=np.int64)
    data = b"".join(utf8)
    plain = _int_stream(lengths, False, K.PST_LENGTH, LT_VAR_BINARY, plt=plt)
    plain += K.pack_stream_metadata(K.PST_DATA, DT_NONE, K.LLT_NONE, K.LLT_NONE, K.PLT_NONE, len(values), len(data))
    plain += data
    # dictionary layout per StringEncoder.encodeDictionary: LENGTH(DICT),
    # OFFSET(STRING), DATA(SINGLE) — offsets BEFORE the dictionary bytes
    seen: dict[bytes, int] = {}
    dict_list: list[bytes] = []
    idx = np.empty(len(utf8), dtype=np.int64)
    for i, b in enumerate(utf8):
        j = seen.get(b)
        if j is None:
            j = len(dict_list)
            seen[b] = j
            dict_list.append(b)
        idx[i] = j
    dlengths = np.array([len(b) for b in dict_list], dtype=np.int64)
    ddata = b"".join(dict_list)
    offsets_stream = _int_stream(idx, False, K.PST_OFFSET, OT_STRING, plt=plt)
    dic = _int_stream(dlengths, False, K.PST_LENGTH, LT_DICTIONARY, plt=plt)
    dic += offsets_stream
    dic += K.pack_stream_metadata(K.PST_DATA, DT_SINGLE, K.LLT_NONE, K.LLT_NONE, K.PLT_NONE, len(dict_list), len(ddata))
    dic += ddata

    candidates = [(len(plain), plain, 2), (len(dic), dic, 3)]
    if use_fsst and ddata:
        table, sym_lens, compressed = fsst_encode(ddata)
        if table:
            fs = _int_stream(sym_lens, False, K.PST_LENGTH, LT_SYMBOL, plt=plt)
            fs += K.pack_stream_metadata(K.PST_DATA, DT_FSST, K.LLT_NONE, K.LLT_NONE, K.PLT_NONE, len(sym_lens), len(table))
            fs += table
            fs += _int_stream(dlengths, False, K.PST_LENGTH, LT_DICTIONARY, plt=plt)
            fs += K.pack_stream_metadata(K.PST_DATA, DT_SINGLE, K.LLT_NONE, K.LLT_NONE, K.PLT_NONE, len(dict_list), len(compressed))
            fs += compressed
            fs += offsets_stream
            candidates.append((len(fs), fs, 5))
    candidates.sort(key=lambda c: c[0])
    _, body, n_streams = candidates[0]
    return body, n_streams


# ---------------------------------------------------------------------------
# layer / tile encode
# ---------------------------------------------------------------------------


def encode_struct_column(struct: StructColumn, use_fsst: bool = False) -> bytes:
    """Shared-dictionary streams (StringEncoder.encodeSharedDictionary):
    shared dictionary (plain LENGTH(DICTIONARY)+DATA(SHARED), or — when
    strictly smaller and FSST is enabled — the 4-stream FSST variant
    SYMLENGTH+DATA(FSST)+LENGTH(DICTIONARY)+DATA(SHARED)), then per child
    varint(2) + present + OFFSET(STRING)."""
    dictionary: list[bytes] = []
    seen: dict[bytes, int] = {}
    offsets_per_child = []
    presents_per_child = []
    for _suffix, values in struct.children:
        present = np.array([v is not None for v in values])
        offs = []
        for v in values:
            if v is None:
                continue
            b = v.encode("utf-8")
            j = seen.get(b)
            if j is None:
                j = len(dictionary)
                seen[b] = j
                dictionary.append(b)
            offs.append(j)
        presents_per_child.append(present)
        offsets_per_child.append(np.array(offs, dtype=np.int64))
    if not dictionary:
        return _varint1(0)
    dlengths = np.array([len(b) for b in dictionary], dtype=np.int64)
    ddata = b"".join(dictionary)
    plain_dict = _int_stream(dlengths, False, K.PST_LENGTH, LT_DICTIONARY)
    plain_dict += K.pack_stream_metadata(K.PST_DATA, DT_SHARED, K.LLT_NONE, K.LLT_NONE, K.PLT_NONE, len(dictionary), len(ddata))
    plain_dict += ddata
    shared = plain_dict
    n_dict_streams = 3
    if use_fsst:
        table, sym_lens, compressed = fsst_encode(ddata)
        fs = _int_stream(sym_lens, False, K.PST_LENGTH, LT_SYMBOL)
        fs += K.pack_stream_metadata(K.PST_DATA, DT_FSST, K.LLT_NONE, K.LLT_NONE, K.PLT_NONE, len(sym_lens), len(table))
        fs += table
        fs += _int_stream(dlengths, False, K.PST_LENGTH, LT_DICTIONARY)
        fs += K.pack_stream_metadata(K.PST_DATA, DT_SHARED, K.LLT_NONE, K.LLT_NONE, K.PLT_NONE, len(dictionary), len(compressed))
        fs += compressed
        if len(fs) < len(plain_dict):
            shared = fs
            n_dict_streams = 5
    out = _varint1(n_dict_streams + 2 * len(struct.children))
    out += shared
    for present, offs in zip(presents_per_child, offsets_per_child):
        if offs.shape[0] == 0:
            out += _varint1(0)
            continue
        out += _varint1(2)
        out += _boolean_stream(present, K.PST_PRESENT)
        out += _int_stream(offs, False, K.PST_OFFSET, OT_STRING)
    return out


def encode_list_column(col: ListColumn, use_fsst: bool = False) -> bytes:
    """Spec LIST layout (present/length-pair nested-field encoding,
    specification.md "Nested Fields Encoding"): varint(n_streams) +
    [PRESENT] + LENGTH (collection sizes) + flattened child value streams
    in pre-order, reusing the scalar stream encoders."""
    present = np.array([v is not None for v in col.values])
    nn = [v for v in col.values if v is not None]
    lengths = np.array([len(v) for v in nn], dtype=np.int64)
    flat = [x for v in nn for x in v]
    body = b""
    n_streams = 0
    if col.nullable:
        body += _boolean_stream(present, K.PST_PRESENT)
        n_streams += 1
    body += _int_stream(lengths, False, K.PST_LENGTH, LT_VAR_BINARY)
    n_streams += 1
    if col.elem_type == "string":
        child, n_child = _encode_string_streams([str(x) for x in flat], use_fsst=use_fsst)
        body += child
        n_streams += n_child
    else:
        body += encode_prop_column(PropColumn(col.name, col.elem_type, flat, nullable=False))
        n_streams += 1
    return _varint1(n_streams) + body


def encode_map_column(col: MapColumn, use_fsst: bool = False) -> bytes:
    """Spec MAP layout ("length, key, data streams"): [PRESENT] + LENGTH
    (entries per feature) + varint-prefixed flattened key string streams +
    varint-prefixed flattened value string streams. Key order is the map's
    insertion order, preserved by the roundtrip."""
    present = np.array([v is not None for v in col.values])
    nn = [v for v in col.values if v is not None]
    lengths = np.array([len(d) for d in nn], dtype=np.int64)
    keys = [k for d in nn for k in d]
    vals = [d[k] for d in nn for k in d]
    body = b""
    if col.nullable:
        body += _boolean_stream(present, K.PST_PRESENT)
    body += _int_stream(lengths, False, K.PST_LENGTH, LT_VAR_BINARY)
    kbody, nk = _encode_string_streams([str(k) for k in keys], use_fsst=use_fsst)
    vbody, nv = _encode_string_streams([str(v) for v in vals], use_fsst=use_fsst)
    body += _varint1(nk) + kbody
    body += _varint1(nv) + vbody
    return body


def _f64_stream(arr: np.ndarray) -> bytes:
    payload = np.asarray(arr, dtype="<f8").tobytes()
    return (
        K.pack_stream_metadata(
            K.PST_DATA, DT_NONE, K.LLT_NONE, K.LLT_NONE, K.PLT_NONE, int(arr.shape[0]), len(payload)
        )
        + payload
    )


def _decode_f64_stream(buf: bytes, pos: int) -> tuple[np.ndarray, int]:
    m, pos = K.unpack_stream_metadata(buf, pos)
    arr = np.frombuffer(bytes(buf[pos : pos + m["byte_length"]]), dtype="<f8")
    return arr, pos + m["byte_length"]


def encode_vec_column(col: VecColumn) -> bytes:
    """[PRESENT] + one dims-interleaved component data stream."""
    present = np.array([v is not None for v in col.values])
    nn = [v for v in col.values if v is not None]
    flat = np.array([c for v in nn for c in v])
    body = b""
    if col.nullable:
        body += _boolean_stream(present, K.PST_PRESENT)
    if col.elem_type in ("int32", "int64"):
        body += _int_stream(
            flat.astype(np.int64), True, K.PST_DATA, DT_NONE,
            bits=64 if col.elem_type == "int64" else 32,
        )
    else:
        body += _f64_stream(flat.astype(np.float64))
    return body


def encode_range_map_column(col: RangeMapColumn, use_fsst: bool = False) -> bytes:
    """[PRESENT] + LENGTH + RANGE stream (interleaved f64 lo/hi) +
    varint-prefixed flattened value string streams."""
    present = np.array([v is not None for v in col.values])
    nn = [v for v in col.values if v is not None]
    lengths = np.array([len(rs) for rs in nn], dtype=np.int64)
    ranges = np.array([b for rs in nn for (lo, hi, _v) in rs for b in (lo, hi)], dtype=np.float64)
    vals = [v for rs in nn for (_lo, _hi, v) in rs]
    body = b""
    if col.nullable:
        body += _boolean_stream(present, K.PST_PRESENT)
    body += _int_stream(lengths, False, K.PST_LENGTH, LT_VAR_BINARY)
    body += _f64_stream(ranges)
    vbody, nv = _encode_string_streams([str(v) for v in vals], use_fsst=use_fsst)
    body += _varint1(nv) + vbody
    return body


def encode_layer(layer: LayerData) -> bytes:
    uses_extensions = bool(
        layer.lists
        or layer.maps
        or layer.vecs
        or layer.range_maps
        or layer.geometry.z is not None
        or any(col.type in _LOGICAL_CODES for col in layer.props)
    )
    if uses_extensions and not layer.extensions:
        raise ValueError(
            "layer uses extension type codes (GEOMETRY_Z/LIST/MAP/VEC/"
            "RANGE_MAP/DATE/TIMESTAMP/JSON) that reference decoders reject; "
            "pass LayerData(extensions=True) to emit a non-reference-"
            "compatible tile deliberately"
        )
    meta = _put_string(layer.name)
    meta += _varint1(layer.extent)
    n_cols = (
        (1 if layer.ids is not None else 0)
        + 1
        + len(layer.props)
        + len(layer.structs)
        + len(layer.lists)
        + len(layer.maps)
        + len(layer.vecs)
        + len(layer.range_maps)
    )
    meta += _varint1(n_cols)
    body = b""
    if layer.ids is not None:
        meta += _varint1(TC_ID_U64 if layer.has_long_ids else TC_ID_U32)
        ids = np.asarray(layer.ids, dtype=np.int64)
        body += _int_stream(
            ids,
            False,
            K.PST_DATA,
            DT_NONE,
            bits=64 if layer.has_long_ids else 32,
            plt=layer.plt,
            long_auto_rle=layer.long_auto_rle,
        )
    has_z = layer.geometry.z is not None
    meta += _varint1(TC_GEOMETRY_Z if has_z else TC_GEOMETRY)
    if layer.tessellate:
        if has_z:
            raise ValueError("GEOMETRY_Z with pretessellation is not supported")
        n_geo_streams, geo_bytes = encode_geometry_column_pretessellated(layer.geometry)
    else:
        n_geo_streams, geo_bytes = encode_geometry_column(layer.geometry, plt=layer.plt)
    body += _varint1(n_geo_streams) + geo_bytes
    if has_z:
        body += _int_stream(
            np.asarray(layer.geometry.z, dtype=np.int64), True, K.PST_DATA, DT_NONE, bits=32
        )
    for col in layer.props:
        code = _LOGICAL_CODES.get(col.type) or _SCALAR_CODES[col.type]
        meta += _varint1(code + (1 if col.nullable else 0)) + _put_string(col.name)
        body += encode_prop_column(col, plt=layer.plt, long_auto_rle=layer.long_auto_rle)
    for struct_col in layer.structs:
        meta += _varint1(TC_STRUCT) + _put_string(struct_col.name)
        meta += _varint1(len(struct_col.children))
        for suffix, _values in struct_col.children:
            meta += _varint1(_SCALAR_CODES["string"] + 1) + _put_string(suffix)
        body += encode_struct_column(struct_col, use_fsst=layer.use_fsst)
    for lcol in layer.lists:
        meta += _varint1(TC_LIST + (1 if lcol.nullable else 0)) + _put_string(lcol.name)
        meta += _varint1(_SCALAR_CODES[lcol.elem_type])
        body += encode_list_column(lcol, use_fsst=layer.use_fsst)
    for mcol in layer.maps:
        meta += _varint1(TC_MAP + (1 if mcol.nullable else 0)) + _put_string(mcol.name)
        body += encode_map_column(mcol, use_fsst=layer.use_fsst)
    for vcol in layer.vecs:
        code = TC_VEC3 if vcol.dims == 3 else TC_VEC2
        meta += _varint1(code + (1 if vcol.nullable else 0)) + _put_string(vcol.name)
        meta += _varint1(_SCALAR_CODES[vcol.elem_type])
        body += encode_vec_column(vcol)
    for rcol in layer.range_maps:
        meta += _varint1(TC_RANGE_MAP + (1 if rcol.nullable else 0)) + _put_string(rcol.name)
        body += encode_range_map_column(rcol, use_fsst=layer.use_fsst)
    payload = meta + body
    # content-driven tag: only layers actually carrying extension codes get
    # the extended frame tag, so extensions=True alone never makes an
    # otherwise reference-compatible tile undecodable by reference decoders
    tag = _varint1(TAG_EXTENDED if uses_extensions else TAG_EMBEDDED)
    return K.varint_encode(np.array([len(payload) + len(tag)], dtype=np.uint64)) + tag + payload


def encode_tile(layers: list[LayerData]) -> bytes:
    return b"".join(encode_layer(la) for la in layers)


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


@dataclass
class DecodedLayer:
    name: str
    extent: int
    ids: np.ndarray | None
    geometry: GeometryColumn | None
    props: dict[str, list]
    triangles: np.ndarray | None = None
    index_buffer: np.ndarray | None = None
    # logical type per decoded property where one applies (date/timestamp/json)
    prop_types: dict[str, str] = field(default_factory=dict)


def _iter_frames(buf: bytes) -> Iterator[tuple[int, int, int, int]]:
    """Framed blocks of a tile → ``(frame_start, tag, body_pos, frame_end)``.
    ``frame_start`` is BEFORE the length varint (it can span >1 byte); the
    length counts the tag varint and the body. A frame that runs past the
    buffer (a truncated tile) or ends inside its own tag raises
    ``ValueError``."""
    pos, n = 0, len(buf)
    while pos < n:
        frame_start = pos
        v, pos = K.varint_decode(buf, 1, pos)
        frame_end = pos + int(v[0])
        if frame_end > n:
            raise ValueError(f"frame at byte {frame_start} ends at {frame_end}, past the tile end {n}")
        v, pos = K.varint_decode(buf, 1, pos)
        if pos > frame_end:
            raise ValueError(f"frame at byte {frame_start} ends at {frame_end}, inside its tag")
        yield frame_start, int(v[0]), pos, frame_end
        pos = frame_end


def _read_layer_header(buf: bytes, pos: int) -> tuple[str, int, list, int]:
    """Layer name, extent and one ``(type code, name, children)`` per column
    → (name, extent, columns, position of the first column's streams).
    STRUCT children are ``(code, suffix)`` pairs; LIST/VEC carry their
    element type code as the one child ``(code, None)``."""
    name, pos = _get_string(buf, pos)
    v, pos = K.varint_decode(buf, 2, pos)
    extent, n_cols = int(v[0]), int(v[1])
    cols = []
    for _ in range(n_cols):
        v, pos = K.varint_decode(buf, 1, pos)
        tc = int(v[0])
        cname = None
        children = []
        if tc >= 10:
            cname, pos = _get_string(buf, pos)
        if tc == TC_STRUCT:
            v, pos = K.varint_decode(buf, 1, pos)
            for _ in range(int(v[0])):
                cv, pos = K.varint_decode(buf, 1, pos)
                ctc = int(cv[0])
                ch_name = None
                if ctc >= 10:
                    ch_name, pos = _get_string(buf, pos)
                children.append((ctc, ch_name))
        elif tc & ~1 in (TC_LIST, TC_VEC2, TC_VEC3):
            ev, pos = K.varint_decode(buf, 1, pos)  # element type code
            children.append((int(ev[0]), None))
        cols.append((tc, cname, children))
    return name, extent, cols, pos


def decode_tile(
    buf: bytes,
    layers: set[str] | None = None,
    columns: set[str] | None = None,
) -> list[DecodedLayer]:
    """Decode a tile; ``layers``/``columns`` enable decode-side projection
    pushdown (rust/mlt/src/decoder/decode.rs:19-64 analog): unselected
    layers are skipped by advancing over their framed bytes without
    parsing, unselected property columns advance by stream byte-length
    without decoding payloads."""
    out = []
    for _start, tag, pos, end in _iter_frames(buf):
        if tag not in (TAG_EMBEDDED, TAG_EXTENDED):
            continue
        if layers is not None and _get_string(buf, pos)[0] not in layers:
            continue
        name, extent, _body_pos, cols = _read_layer(buf, pos, end, columns)
        ids = geometry = triangles = index_buffer = None
        props: dict[str, list] = {}
        prop_types: dict[str, str] = {}
        for tc, cname, col in cols:
            if isinstance(col, np.ndarray):
                ids = col
            elif tc <= TC_ID_U64_NULL:  # nullable ids surface without their nulls
                ids = np.array([v for v in col.values if v is not None], dtype=np.int64)
            elif isinstance(col, tuple):
                geometry, triangles, index_buffer = col
            elif isinstance(col, StructColumn):
                props.update((cname + suffix, values) for suffix, values in col.children)
            elif col is not None:
                props[cname] = col.values
                if tc & ~1 in _CODE_TO_LOGICAL:
                    prop_types[cname] = _CODE_TO_LOGICAL[tc & ~1]
        out.append(DecodedLayer(name, extent, ids, geometry, props, triangles, index_buffer, prop_types))
    return out


def reencode_tile(buf: bytes, use_fsst: bool = True, fixture_rules: bool = True) -> bytes:
    """Decode a tile to the value model and re-encode it column-by-column in
    the ORIGINAL column order, re-running every encoder candidate selection
    from the data alone. When our selection rules and stream encoders match
    the reference exactly, the output equals the input byte-for-byte — the
    strongest whole-tile parity check the fixtures allow without the MVT
    conversion pipeline (column mapping, type coercion). ``fixture_rules``
    selects the fixture generator's geometry rules (pre-tessellation path,
    morton disabled); pass False for tiles produced by our own tiler
    (standard selection with morton enabled)."""
    out = b""
    for frame_start, tag, pos, end in _iter_frames(buf):
        if tag not in (TAG_EMBEDDED, TAG_EXTENDED):
            # unknown frame: copy verbatim INCLUDING the full length varint
            out += bytes(buf[frame_start:end])
            continue
        _name, _extent, body_pos, cols = _read_layer(buf, pos, end)
        # the layer header (name, extent, column types) is copied as read
        payload = _varint1(tag) + bytes(buf[pos:body_pos])
        for tc, _cname, col in cols:
            payload += _reencode_column(tc, col, use_fsst, fixture_rules)
        out += _varint1(len(payload)) + payload
    return out


def _reencode_column(tc: int, col, use_fsst: bool, fixture_rules: bool) -> bytes:
    """One column body from what ``_read_layer`` returned for it."""
    if isinstance(col, np.ndarray):
        return _int_stream(col, False, K.PST_DATA, DT_NONE, bits=64 if tc >= TC_ID_U64 else 32)
    if isinstance(col, tuple):
        g, triangles, _index_buffer = col
        if triangles is not None:
            n_geo, geo = encode_geometry_column_pretessellated(g)
        elif fixture_rules:
            # fixtures are generated through the pre-tessellation path
            # with morton disabled (MltConverter.java:583)
            n_geo, geo = encode_geometry_column(g, use_morton=False, pretess_selection=True)
        else:
            n_geo, geo = encode_geometry_column(g)
        out = _varint1(n_geo) + geo
        if g.z is not None:
            out += _int_stream(g.z, True, K.PST_DATA, DT_NONE, bits=32)
        return out
    if isinstance(col, PropColumn):
        if not col.values and _LOGICAL_PHYSICAL.get(col.type, col.type) == "string":
            return _varint1(0)  # no values: the zero-stream form it is read from
        col.use_fsst = use_fsst
        return encode_prop_column(col)
    if isinstance(col, VecColumn):
        return encode_vec_column(col)
    encoders = {
        StructColumn: encode_struct_column,
        ListColumn: encode_list_column,
        MapColumn: encode_map_column,
        RangeMapColumn: encode_range_map_column,
    }
    return encoders[type(col)](col, use_fsst=use_fsst)


def _skip_streams(buf: bytes, pos: int, n_streams: int) -> int:
    """Advance over ``n_streams`` streams without decoding payloads."""
    for _ in range(n_streams):
        meta, pos = K.unpack_stream_metadata(buf, pos)
        pos += meta["byte_length"]
    return pos


def _read_layer(
    buf: bytes, pos: int, end: int, columns: set[str] | None = None
) -> tuple[str, int, int, list]:
    """Walk one layer's columns in file order → (name, extent, position of
    the first column's streams, one ``(type code, name, column)`` per
    column). Each column is the value-model object its encoder takes: the
    ids array (like ``LayerData.ids``; a nullable ID column is a
    ``PropColumn`` named "id"), ``PropColumn``, ``StructColumn``,
    ``ListColumn``, ``MapColumn``, ``VecColumn``, ``RangeMapColumn``;
    geometry is ``(GeometryColumn, triangles, index_buffer)``. A scalar
    column left out by ``columns`` is skipped without decoding and reads as
    None. Raises ``ValueError`` when the walk does not end exactly at the
    frame end ``end``."""
    name, extent, header, pos = _read_layer_header(buf, pos)
    body_pos = pos
    cols = []
    for tc, cname, children in header:
        kind, nullable = tc & ~1, bool(tc & 1)
        elem = _CODE_TO_SCALAR.get(children[0][0] & ~1) if children else None  # LIST/VEC
        if tc <= TC_ID_U64 and not nullable:
            m, pos = K.unpack_stream_metadata(buf, pos)
            col, pos = _decode_int_stream_with_meta(buf, pos, m, signed=False, bits=64 if tc == TC_ID_U64 else 32)
        elif tc <= TC_ID_U64_NULL:  # nullable ids, which encode_layer never writes
            id_type = "uint64" if tc >= TC_ID_U64 else "uint32"
            values, pos = _decode_scalar_column(buf, pos, id_type, nullable)
            col = PropColumn("id", id_type, values, nullable)
        elif tc in (TC_GEOMETRY, TC_GEOMETRY_Z):
            v, pos = K.varint_decode(buf, 1, pos)
            g, triangles, index_buffer, pos = _decode_geometry_column(buf, pos, int(v[0]))
            if tc == TC_GEOMETRY_Z:
                m, pos = K.unpack_stream_metadata(buf, pos)
                zvals, pos = _decode_int_stream_with_meta(buf, pos, m, signed=True, bits=32)
                g.z = np.asarray(zvals, dtype=np.int64)
            col = (g, triangles, index_buffer)
        elif tc == TC_STRUCT:
            col, pos = _decode_shared_dict_struct(buf, pos, cname, children)
        elif kind == TC_LIST:
            values, pos = _decode_list_column(buf, pos, nullable, elem)
            col = ListColumn(cname, elem, values, nullable)
        elif kind == TC_MAP:
            values, pos = _decode_map_column(buf, pos, nullable)
            col = MapColumn(cname, values, nullable)
        elif kind in (TC_VEC2, TC_VEC3):
            dims = 3 if kind == TC_VEC3 else 2
            values, pos = _decode_vec_column(buf, pos, nullable, elem, dims)
            col = VecColumn(cname, elem, values, dims, nullable)
        elif kind == TC_RANGE_MAP:
            values, pos = _decode_range_map_column(buf, pos, nullable)
            col = RangeMapColumn(cname, values, nullable)
        else:
            ctype = _CODE_TO_LOGICAL.get(kind) or _CODE_TO_SCALAR[kind]
            scalar = _LOGICAL_PHYSICAL.get(ctype, ctype)
            n_streams = 1 + nullable
            if scalar == "string":  # string columns carry a stream count
                v, pos = K.varint_decode(buf, 1, pos)
                n_streams = int(v[0])
            values = []
            if columns is not None and cname not in columns:  # projection pushdown
                values, pos = None, _skip_streams(buf, pos, n_streams)
            elif scalar != "string":
                values, pos = _decode_scalar_column(buf, pos, scalar, nullable)
            elif n_streams:
                values, pos = _decode_string_column(buf, pos, n_streams, nullable)
            col = None if values is None else PropColumn(cname, ctype, values, nullable)
        cols.append((tc, cname, col))
    if pos != end:
        raise ValueError(f"layer {name!r}: column walk ends at byte {pos}, frame at {end}")
    return name, extent, body_pos, cols


def _reassemble_collections(present, lengths: np.ndarray, flat: list, build) -> list:
    """present/length pair → per-row collections (None where absent)."""
    out = []
    offs = np.concatenate(([0], np.cumsum(lengths))).astype(np.int64)
    k = 0
    n_rows = len(present) if present is not None else lengths.shape[0]
    for i in range(n_rows):
        if present is not None and not present[i]:
            out.append(None)
            continue
        out.append(build(flat[int(offs[k]) : int(offs[k + 1])]))
        k += 1
    return out


def _decode_list_column(buf: bytes, pos: int, nullable: bool, elem: str) -> tuple[list, int]:
    v, pos = K.varint_decode(buf, 1, pos)
    n_streams = int(v[0])
    present = None
    consumed = 0
    if nullable:
        present, pos = _decode_boolean_stream(buf, pos)
        consumed += 1
    m, pos = K.unpack_stream_metadata(buf, pos)
    lengths, pos = _decode_int_stream_with_meta(buf, pos, m, signed=False, bits=32)
    consumed += 1
    if elem == "string":
        flat, pos = _decode_string_column(buf, pos, n_streams - consumed, nullable=False)
    else:
        flat, pos = _decode_scalar_column(buf, pos, elem, nullable=False)
    return _reassemble_collections(present, np.asarray(lengths), list(flat), list), pos


def _decode_vec_column(
    buf: bytes, pos: int, nullable: bool, elem: str, dims: int
) -> tuple[list, int]:
    present = None
    if nullable:
        present, pos = _decode_boolean_stream(buf, pos)
    if elem in ("int32", "int64"):
        m, pos = K.unpack_stream_metadata(buf, pos)
        flat, pos = _decode_int_stream_with_meta(
            buf, pos, m, signed=True, bits=64 if elem == "int64" else 32
        )
        flat = flat.tolist()
    else:
        arr, pos = _decode_f64_stream(buf, pos)
        flat = arr.tolist()
    vecs = [tuple(flat[i : i + dims]) for i in range(0, len(flat), dims)]
    if present is None:
        return vecs, pos
    out = []
    k = 0
    for p in present:
        if p:
            out.append(vecs[k])
            k += 1
        else:
            out.append(None)
    return out, pos


def _decode_range_map_column(buf: bytes, pos: int, nullable: bool) -> tuple[list, int]:
    present = None
    if nullable:
        present, pos = _decode_boolean_stream(buf, pos)
    m, pos = K.unpack_stream_metadata(buf, pos)
    lengths, pos = _decode_int_stream_with_meta(buf, pos, m, signed=False, bits=32)
    ranges, pos = _decode_f64_stream(buf, pos)
    v, pos = K.varint_decode(buf, 1, pos)
    vals, pos = _decode_string_column(buf, pos, int(v[0]), nullable=False)
    flat = [
        (float(ranges[2 * i]), float(ranges[2 * i + 1]), vals[i]) for i in range(len(vals))
    ]
    return _reassemble_collections(present, np.asarray(lengths), flat, list), pos


def _decode_map_column(buf: bytes, pos: int, nullable: bool) -> tuple[list, int]:
    present = None
    if nullable:
        present, pos = _decode_boolean_stream(buf, pos)
    m, pos = K.unpack_stream_metadata(buf, pos)
    lengths, pos = _decode_int_stream_with_meta(buf, pos, m, signed=False, bits=32)
    v, pos = K.varint_decode(buf, 1, pos)
    keys, pos = _decode_string_column(buf, pos, int(v[0]), nullable=False)
    v, pos = K.varint_decode(buf, 1, pos)
    vals, pos = _decode_string_column(buf, pos, int(v[0]), nullable=False)
    flat = list(zip(keys, vals))
    return _reassemble_collections(present, np.asarray(lengths), flat, dict), pos


def _decode_boolean_stream(buf: bytes, pos: int) -> tuple[np.ndarray, int]:
    meta, pos = K.unpack_stream_metadata(buf, pos)
    bits, _ = K.boolean_rle_decode(buf, meta["num_values"], meta["byte_length"], pos)
    return bits, pos + meta["byte_length"]


def _merge_present(present: np.ndarray, vals: list) -> list:
    """Scatter non-null values over the present bitmap → list with Nones.
    Object-dtype scatter keeps the original Python values untouched and is
    ~10× the per-row append loop it replaces (decode profile, round 5)."""
    out = np.full(present.shape[0], None, dtype=object)
    out[present] = np.asarray(vals, dtype=object)
    return out.tolist()


def _decode_scalar_column(buf: bytes, pos: int, scalar: str, nullable: bool) -> tuple[list, int]:
    present = None
    if nullable:
        present, pos = _decode_boolean_stream(buf, pos)
    if scalar == "boolean":
        vals_bits, pos = _decode_boolean_stream(buf, pos)
        vals = vals_bits.tolist()
    elif scalar in ("int32", "uint32", "int64", "uint64"):
        meta, pos = K.unpack_stream_metadata(buf, pos)
        bits = 64 if scalar.endswith("64") else 32
        arr, pos = _decode_int_stream_with_meta(buf, pos, meta, signed=scalar.startswith("int"), bits=bits)
        vals = arr.tolist()
    elif scalar in ("float", "double"):
        meta, pos = K.unpack_stream_metadata(buf, pos)
        # f32 regardless of declared width (reference FloatDecoder behavior)
        arr = np.frombuffer(buf, dtype=np.dtype("<f4"), count=meta["num_values"], offset=pos)
        pos += meta["byte_length"]
        vals = arr.astype(np.float64).tolist()
    else:
        raise ValueError(scalar)
    if present is None:
        return vals, pos
    return _merge_present(present, vals), pos


def _decode_string_column(buf: bytes, pos: int, n_streams: int, nullable: bool) -> tuple[list, int]:
    present = None
    if nullable:
        present, pos = _decode_boolean_stream(buf, pos)
        n_streams -= 1
    dict_lengths = None
    sym_lengths = None
    dict_bytes = None
    sym_bytes = None
    offsets = None
    for _ in range(n_streams):
        meta, pos = K.unpack_stream_metadata(buf, pos)
        pst = meta["physical_stream_type"]
        if pst == K.PST_OFFSET:
            offsets, pos = _decode_int_stream_with_meta(buf, pos, meta, signed=False)
        elif pst == K.PST_LENGTH:
            arr, pos = _decode_int_stream_with_meta(buf, pos, meta, signed=False)
            if meta["logical_type"] == LT_DICTIONARY:
                dict_lengths = arr
            else:
                sym_lengths = arr
        elif pst == K.PST_DATA:
            raw = bytes(buf[pos : pos + meta["byte_length"]])
            pos += meta["byte_length"]
            if meta["logical_type"] in (DT_SINGLE, DT_SHARED):
                dict_bytes = raw
            else:
                sym_bytes = raw
    if sym_bytes is not None and sym_lengths is not None and dict_lengths is not None:
        # FSST dictionary: expand symbols then slice by dict lengths
        corpus = fsst_decode(sym_bytes, sym_lengths, dict_bytes)
        strings = _slice_strings(corpus, dict_lengths)
        vals = [strings[i] for i in offsets.tolist()]
    elif dict_bytes is not None and dict_lengths is not None:
        strings = _slice_strings(dict_bytes, dict_lengths)
        vals = [strings[i] for i in offsets.tolist()]
    else:
        strings = _slice_strings(sym_bytes, sym_lengths)
        vals = strings
    if present is None:
        return vals, pos
    return _merge_present(present, vals), pos


def _slice_strings(data: bytes, lengths: np.ndarray) -> list[str]:
    out = []
    o = 0
    for ln in lengths.tolist():
        out.append(data[o : o + ln].decode("utf-8"))
        o += ln
    return out


def _decode_shared_dict_struct(
    buf: bytes, pos: int, root_name: str, children: list
) -> tuple[StructColumn, int]:
    """Shared-dictionary struct (StringDecoder.decodeSharedDictionary)."""
    v, pos = K.varint_decode(buf, 1, pos)
    n_streams = int(v[0])
    if n_streams == 0:  # no child has a value: encode_struct_column writes only the count
        return StructColumn(root_name, [(ch_name or "", []) for _tc, ch_name in children]), pos
    dict_lengths = None
    dict_bytes = None
    sym_lengths = None
    sym_bytes = None
    while True:
        meta, pos = K.unpack_stream_metadata(buf, pos)
        pst = meta["physical_stream_type"]
        if pst == K.PST_LENGTH:
            arr, pos = _decode_int_stream_with_meta(buf, pos, meta, signed=False)
            if meta["logical_type"] == LT_DICTIONARY:
                dict_lengths = arr
            else:
                sym_lengths = arr
        elif pst == K.PST_DATA:
            raw = bytes(buf[pos : pos + meta["byte_length"]])
            pos += meta["byte_length"]
            if meta["logical_type"] in (DT_SINGLE, DT_SHARED):
                dict_bytes = raw
                break
            sym_bytes = raw
        else:
            raise ValueError("unexpected stream in shared dictionary")
    if sym_bytes is not None and sym_lengths is not None:
        corpus = fsst_decode(sym_bytes, sym_lengths, dict_bytes)
        strings = _slice_strings(corpus, dict_lengths)
    else:
        strings = _slice_strings(dict_bytes, dict_lengths)
    out = []
    for _tc, ch_name in children:
        v, pos = K.varint_decode(buf, 1, pos)
        ns = int(v[0])
        if ns == 0:  # no values present for this child in this tile
            out.append((ch_name or "", []))
            continue
        if ns != 2:
            raise ValueError("struct child must have present+offset streams")
        present, pos = _decode_boolean_stream(buf, pos)
        meta, pos = K.unpack_stream_metadata(buf, pos)
        offs, pos = _decode_int_stream_with_meta(buf, pos, meta, signed=False)
        vals, i = [], 0
        for p in present:
            if p:
                vals.append(strings[int(offs[i])])
                i += 1
            else:
                vals.append(None)
        out.append((ch_name or "", vals))
    return StructColumn(root_name, out), pos


# ---------------------------------------------------------------------------
# geometry decode
# ---------------------------------------------------------------------------


def _decode_geometry_column(buf: bytes, pos: int, n_streams: int):
    meta, pos = K.unpack_stream_metadata(buf, pos)
    types, pos = _decode_int_stream_with_meta(buf, pos, meta, signed=False)
    num_geometries = num_parts = num_rings = None
    triangles = index_buffer = None
    vertex_offsets = None
    vertices = None
    for _ in range(n_streams - 1):
        meta, pos = K.unpack_stream_metadata(buf, pos)
        pst = meta["physical_stream_type"]
        if pst == K.PST_LENGTH:
            arr, pos = _decode_int_stream_with_meta(buf, pos, meta, signed=False)
            lt = meta["logical_type"]
            if lt == LT_GEOMETRIES:
                num_geometries = arr
            elif lt == LT_PARTS:
                num_parts = arr
            elif lt == LT_RINGS:
                num_rings = arr
            elif lt == LT_TRIANGLES:
                triangles = arr
        elif pst == K.PST_OFFSET:
            arr, pos = _decode_int_stream_with_meta(buf, pos, meta, signed=False)
            if meta["logical_type"] == OT_VERTEX:
                vertex_offsets = arr
            else:
                index_buffer = arr
        elif pst == K.PST_DATA:
            if meta["plt"] == K.PLT_FASTPFOR:
                from maplibre_tile_spec_spark.functions.fastpfor import fastpfor_decode

                raw = fastpfor_decode(buf, pos, meta["num_values"], meta["byte_length"]).astype(np.uint64)
                pos += meta["byte_length"]
            else:
                raw, pos = K.varint_decode(buf, meta["num_values"], pos)
            if meta["logical_type"] == DT_MORTON:
                codes = K.delta_decode(raw.view(np.int64))
                mx, my = K.morton_decode(codes.astype(np.uint64), shift=meta["coordinate_shift"])
                vertices = np.empty(mx.shape[0] * 2, dtype=np.int64)
                vertices[0::2] = mx
                vertices[1::2] = my
            else:
                # COMPONENTWISE_DELTA vertex buffer (plain or hilbert dict)
                vx, vy = K.vec2_zigzag_delta_decode(raw)
                vertices = np.empty(vx.shape[0] * 2, dtype=np.int64)
                vertices[0::2] = vx
                vertices[1::2] = vy

    # resolve dictionary indirection so downstream sees a flat buffer
    if vertex_offsets is not None and vertices is not None:
        vx = vertices[0::2][vertex_offsets.astype(np.int64)]
        vy = vertices[1::2][vertex_offsets.astype(np.int64)]
        flat = np.empty(vx.shape[0] * 2, dtype=np.int64)
        flat[0::2] = vx
        flat[1::2] = vy
        vertices = flat

    g = GeometryColumn(
        types=types.astype(np.int64),
        num_geometries=num_geometries if num_geometries is not None else np.empty(0, np.int64),
        num_parts=num_parts if num_parts is not None else np.empty(0, np.int64),
        num_rings=num_rings if num_rings is not None else np.empty(0, np.int64),
        vertices=vertices if vertices is not None else np.empty(0, np.int64),
    )
    return g, triangles, index_buffer, pos


def geometry_to_features(g: GeometryColumn) -> list[tuple[int, list[list[np.ndarray]]]]:
    """Topology walk (GeometryDecoder.decodeGeometry): per feature →
    (mlt_type, parts[rings[vertex array (n,2), closed for polygons]]).
    Raises ``ValueError`` unless the walk consumes every vertex and count."""
    vb = g.vertices.reshape(-1, 2)
    vi = 0  # vertex cursor

    def take(n: int) -> np.ndarray:
        nonlocal vi
        vi += n
        return vb[vi - n : vi]

    def closed_ring(n: int) -> np.ndarray:
        ring = take(n)
        return np.concatenate((ring, ring[:1]))

    geoms, parts, rings = (iter(a.tolist()) for a in (g.num_geometries, g.num_parts, g.num_rings))
    line_lengths = rings if np.isin(g.types, (MLT_POLYGON, MLT_MULTIPOLYGON)).any() else parts
    out = []
    try:
        for t in g.types.tolist():
            n = next(geoms) if t in (MLT_MULTIPOINT, MLT_MULTILINESTRING, MLT_MULTIPOLYGON) else 1
            if t in (MLT_POINT, MLT_MULTIPOINT):
                out.append((t, [[take(1)] for _ in range(n)]))
            elif t in (MLT_LINESTRING, MLT_MULTILINESTRING):
                out.append((t, [[take(next(line_lengths))] for _ in range(n)]))
            elif t in (MLT_POLYGON, MLT_MULTIPOLYGON):
                out.append((t, [[closed_ring(next(rings)) for _ in range(next(parts))] for _ in range(n)]))
            else:
                raise ValueError(f"unknown geometry type {t}")
    except StopIteration:
        raise ValueError("geometry topology walk ran past the end of a count stream") from None
    if vi != vb.shape[0] or any(next(it, None) is not None for it in (geoms, parts, rings)):
        raise ValueError("geometry topology walk left vertices or counts unconsumed")
    return out


# ---------------------------------------------------------------------------
# stream introspection (MLTStreamObserver analog,
# java/.../converter/MLTStreamObserver.java / MLTStreamObserverFile.java:1-74:
# observe every raw stream's metadata + encoded size for size analysis)
# ---------------------------------------------------------------------------

_PST_NAMES = ["present", "data", "offset", "length"]
_LLT_NAMES = ["none", "delta", "componentwise_delta", "rle", "morton", "pde"]
LLT_NONE_ORD = 0


def inspect_tile(buf: bytes) -> list[dict]:
    """Walk a tile without materializing values → one record per stream:
    layer, column, stream kind, logical technique, value count, byte size.
    Feeds the same size-analysis workflows as the reference's stream
    observer, but as plain dicts (→ DataFrame rows at scale). Covers every
    column kind ``encode_layer`` emits; raises ``ValueError`` when a layer's
    walk does not end exactly at its frame end."""
    records = []
    for _start, tag, pos, end in _iter_frames(buf):
        if tag not in (TAG_EMBEDDED, TAG_EXTENDED):
            continue
        name, _extent, cols, p = _read_layer_header(buf, pos)

        def emit(col_label: str, n_streams: int | None = None) -> None:
            """Record and skip ``n_streams`` streams; ``None`` reads the
            count from a leading varint (a varint-prefixed stream group)."""
            nonlocal p
            if n_streams is None:
                ns, p = K.varint_decode(buf, 1, p)
                n_streams = int(ns[0])
            for _ in range(n_streams):
                meta, p2 = K.unpack_stream_metadata(buf, p)
                records.append(
                    {
                        "layer": name,
                        "column": col_label,
                        "stream": _PST_NAMES[meta["physical_stream_type"]],
                        "technique": _LLT_NAMES[meta["llt1"]]
                        + (f"+{_LLT_NAMES[meta['llt2']]}" if meta["llt2"] != LLT_NONE_ORD else ""),
                        "num_values": meta["num_values"],
                        "byte_length": meta["byte_length"],
                    }
                )
                p = p2 + meta["byte_length"]

        for tc, cname, children in cols:
            kind, nullable = tc & ~1, tc & 1
            if tc in (TC_ID_U32, TC_ID_U32_NULL, TC_ID_U64, TC_ID_U64_NULL):
                emit("id", 1 + nullable)
            elif tc in (TC_GEOMETRY, TC_GEOMETRY_Z):
                emit("geometry")
                if tc == TC_GEOMETRY_Z:  # one trailing z stream, not counted
                    emit("geometry", 1)
            elif tc == TC_STRUCT:
                ns, p = K.varint_decode(buf, 1, p)
                total = int(ns[0])
                if total == 0:  # all-null struct: the count is the whole column
                    continue
                # shared dictionary streams: the declared count is
                # 3+2*children (5+2*children with FSST) per StringEncoder,
                # but only 2 (resp. 4) physical streams precede the children
                # — the remaining "+1" is accounting for the child varints,
                # so subtract it or we over-read one stream header here
                emit(cname or "struct", total - 2 * len(children) - 1)
                for _tc2, ch in children:
                    emit((cname or "") + (ch or ""))
            elif kind == TC_LIST:  # the count covers present, length, elements
                emit(cname)
            elif kind == TC_MAP:  # [present] + length, then keys and values
                emit(cname, nullable + 1)
                emit(cname)
                emit(cname)
            elif kind in (TC_VEC2, TC_VEC3):  # [present] + one data stream
                emit(cname, nullable + 1)
            elif kind == TC_RANGE_MAP:  # [present] + length + ranges, values
                emit(cname, nullable + 2)
                emit(cname)
            else:
                logical = _CODE_TO_LOGICAL.get(kind)
                scalar = _LOGICAL_PHYSICAL[logical] if logical else _CODE_TO_SCALAR[kind]
                emit(cname, None if scalar == "string" else 1 + nullable)
        if p != end:
            raise ValueError(f"layer {name!r}: column walk ends at byte {p}, frame at {end}")
    return records


# ---------------------------------------------------------------------------
# vectorized decode → Arrow (the TS decoder's FeatureTable-of-vectors analog,
# ts/src/mltDecoder.ts:48-150: columnar in-memory, no row materialization)
# ---------------------------------------------------------------------------


def decode_tile_to_arrow(buf: bytes, layers: set[str] | None = None, columns: set[str] | None = None):
    """Decode a tile into one pyarrow RecordBatch per layer: id column,
    geometry as (type + per-feature vertex list offsets), property columns
    as Arrow arrays. Feeds straight into pandas/Spark without per-row
    Python objects."""
    import pyarrow as pa

    out = {}
    for la in decode_tile(buf, layers=layers, columns=columns):
        n = la.geometry.types.shape[0] if la.geometry is not None else 0
        arrays: dict[str, pa.Array] = {}
        if la.ids is not None:
            arrays["id"] = pa.array(la.ids, type=pa.int64())
        if la.geometry is not None:
            arrays["geom_type"] = pa.array(la.geometry.types, type=pa.int32())
            # per-feature vertex slices as a ListArray of (x,y) pairs
            feats = geometry_to_features(la.geometry)
            flat = []
            offsets = [0]
            for _gt, parts in feats:
                nv = 0
                for rings in parts:
                    for ring in rings:
                        flat.append(ring.ravel())
                        nv += ring.shape[0] * 2
                offsets.append(offsets[-1] + nv)
            values = np.concatenate(flat) if flat else np.empty(0, np.int64)
            arrays["vertices"] = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()), pa.array(values, type=pa.int64())
            )
        for k, v in la.props.items():
            if len(v) == n:
                arrays[k] = _prop_to_arrow(pa, v)
        out[la.name] = pa.RecordBatch.from_pydict(arrays)
    return out


def _prop_to_arrow(pa, values: list):
    """Property values → Arrow array, covering the complex column types
    Arrow's inference can't guess: MAP columns (python dicts → pa.map_),
    RANGE_MAP entries ((lo, hi, value) tuples → struct list), VEC_2/3
    (fixed tuples → list array)."""
    probe = next((x for x in values if x is not None), None)
    if isinstance(probe, dict):
        items = [list(d.items()) if d is not None else None for d in values]
        return pa.array(items, type=pa.map_(pa.string(), pa.string()))
    if isinstance(probe, tuple):  # vec2/vec3
        return pa.array([list(t) if t is not None else None for t in values])
    if isinstance(probe, list):  # find a non-empty list to type the elements
        probe = next((x for x in values if x), probe)
    if isinstance(probe, list) and probe and isinstance(probe[0], tuple):  # range map
        conv = [
            [{"lo": lo, "hi": hi, "value": val} for (lo, hi, val) in rs] if rs is not None else None
            for rs in values
        ]
        return pa.array(
            conv,
            type=pa.list_(
                pa.struct([("lo", pa.float64()), ("hi", pa.float64()), ("value", pa.string())])
            ),
        )
    return pa.array(values)


# ---------------------------------------------------------------------------
# whole-tile compression (serving-layer option, EncodingUtils.java:31-47)
# ---------------------------------------------------------------------------


def gzip_tile(buf: bytes) -> bytes:
    import gzip as _gzip

    return _gzip.compress(buf, mtime=0)  # mtime=0: deterministic output


def gunzip_tile(buf: bytes) -> bytes:
    import gzip as _gzip

    return _gzip.decompress(buf)


# ---------------------------------------------------------------------------
# FSST: symbol-table construction (functions/fsst.py) and expansion
# (FsstEncoder.decode semantics: symbols ≤8 bytes, escape byte 255 copies
# the next byte verbatim; java/.../converter/encodings/fsst/Fsst.java:17-45)
# ---------------------------------------------------------------------------


def fsst_encode(corpus: bytes, sample_limit: int = 30000) -> tuple[bytes, np.ndarray, bytes]:
    """FSST symbol-table construction + compression, byte-identical to the
    reference encoder (SymbolTableBuilder.java:45-354 semantics including
    its HashMap/PriorityQueue tie ordering — see functions/fsst.py;
    verified byte-exact against all 2662 FSST streams in the reference
    fixture corpus). Returns (symbol_table, symbol_lengths, compressed)."""
    from maplibre_tile_spec_spark.functions import fsst as _fsst

    table, lens, comp = _fsst.build_and_encode(corpus, sample_size=sample_limit)
    return table, np.array(lens, dtype=np.int64), comp


def fsst_decode(symbol_table: bytes, symbol_lengths: np.ndarray, compressed: bytes) -> bytes:
    """Vectorized FSST expansion. Escape resolution: a 0xFF at a token
    boundary consumes the next byte as a literal, so inside each maximal run
    of consecutive 0xFF bytes the escapes sit at even offsets from the run
    start (the byte before a run start is never 0xFF, hence always a token
    boundary); an odd-length run's last escape consumes the byte after the
    run. With escapes known, the output is one multi-range gather over a
    flat table of the symbols plus the 256 single-byte literals."""
    n = len(compressed)
    if n == 0:
        return b""
    lens = symbol_lengths.astype(np.int64)
    nsym = lens.shape[0]
    nbytes_sym = int(lens.sum())
    # flat table = symbol bytes ++ literal bytes 0..255; ids 256+b are the
    # single-byte literals (symbol codes occupy 0..254; 255 is the escape)
    flat = np.concatenate(
        [
            np.frombuffer(symbol_table, dtype=np.uint8, count=nbytes_sym),
            np.arange(256, dtype=np.uint8),
        ]
    )
    tbl_len = np.concatenate([lens, np.zeros(256 - nsym, np.int64), np.ones(256, np.int64)])
    sym_off = np.concatenate(([0], np.cumsum(lens)))
    tbl_off = np.concatenate(
        [sym_off[:-1], np.zeros(256 - nsym, np.int64), nbytes_sym + np.arange(256)]
    )
    data = np.frombuffer(compressed, dtype=np.uint8)
    ff = np.flatnonzero(data == 255)
    if ff.shape[0]:
        run_start = np.flatnonzero(np.diff(ff, prepend=-2) > 1)
        starts = ff[run_start]
        run_lens = np.diff(np.append(run_start, ff.shape[0]))
        esc = np.concatenate(
            [np.arange(r, r + ln, 2) for r, ln in zip(starts.tolist(), run_lens.tolist())]
        )
        if esc[-1] + 1 >= n:
            raise ValueError("FSST stream ends inside an escape")
        ids = data.astype(np.int64)
        ids[esc] = 256 + data[esc + 1]
        is_token = np.ones(n, dtype=bool)
        is_token[esc + 1] = False
        ids = ids[is_token]
    else:
        ids = data.astype(np.int64)
    # corrupt streams must fail loudly: a symbol code at/above the table
    # size would gather a zero-length entry and silently emit nothing
    # (ids >= 256 are the escape literals, always valid)
    if nsym < 255 and bool(((ids < 256) & (ids >= nsym)).any()):
        raise ValueError(f"FSST stream references symbol >= table size {nsym}")
    out_lens = tbl_len[ids]
    out_starts = tbl_off[ids]
    total = int(out_lens.sum())
    ends = np.cumsum(out_lens)
    gather = (
        np.arange(total, dtype=np.int64)
        - np.repeat(ends - out_lens, out_lens)
        + np.repeat(out_starts, out_lens)
    )
    return flat[gather].tobytes()
