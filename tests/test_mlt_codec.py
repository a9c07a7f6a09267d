"""MLT codec: reference-fixture parity, self round-trip, and byte anchors
over a synthetic corpus (tests/data/codec_anchors.json, TestCodecAnchors).

Parity model = the reference's own golden-file strategy (justfile:82-150,
cpp/test/test_decode.cpp:77-94): decode the expected tiles under
/root/reference/test/expected/tag0x01/simple and compare feature membership
(ids, geometry coordinates after tile→WGS84 projection, properties) against
the stored .mlt.geojson; additionally our re-encode is byte-exact for the
four geometry classes that don't carry tessellation streams.
"""

import hashlib
import json
import math
import os
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from maplibre_tile_spec_spark.functions import kernels as K
from maplibre_tile_spec_spark.functions import mlt_codec as C

FIXTURE_DIR = "/root/reference/test/expected/tag0x01/simple"
ALL_CLASSES = [
    "point-boolean",
    "line-boolean",
    "polygon-boolean",
    "multipoint-boolean",
    "multiline-boolean",
    "multipolygon-boolean",
]
# polygon classes were generated with --tessellate --outlines ALL (earcut
# triangle streams we don't re-emit); the rest re-encode byte-exactly
BYTE_EXACT_CLASSES = ["point-boolean", "line-boolean", "multipoint-boolean", "multiline-boolean"]

requires_fixtures = pytest.mark.skipif(
    not os.path.isdir(FIXTURE_DIR), reason="reference fixtures not available"
)


def project(x: np.ndarray, y: np.ndarray, extent: int, tx: int = 3, ty: int = 5, z: int = 7):
    """tile→WGS84, inverse of cpp/include/mlt/projection.hpp:17-48 with the
    C++ test's {x:3,y:5,z:7} tile (test_decode.cpp:105-170)."""
    n = 2**z
    lon = (x / extent + tx) / n * 360.0 - 180.0
    merc = math.pi * (1 - 2 * (y / extent + ty) / n)
    lat = np.degrees(np.arctan(np.sinh(merc)))
    return lon, lat


def geojson_coords(geom: dict) -> list:
    t = geom["type"]
    c = geom["coordinates"]
    if t == "Point":
        return [[[c]]]
    if t == "LineString":
        return [[c]]
    if t == "MultiPoint":
        return [[[p]] for p in c]
    if t == "MultiLineString":
        return [[ln] for ln in c]
    if t == "Polygon":
        return [c]
    return c  # MultiPolygon


@requires_fixtures
class TestFixtureParity:
    @pytest.mark.parametrize("name", ALL_CLASSES)
    def test_membership_matches_geojson(self, name):
        buf = open(f"{FIXTURE_DIR}/{name}.mlt", "rb").read()
        expected = json.load(open(f"{FIXTURE_DIR}/{name}.mlt.geojson"))
        layers = C.decode_tile(buf)
        assert len(layers) == len(expected["layers"])
        for la, exp in zip(layers, expected["layers"]):
            assert la.name == exp["name"]
            assert la.extent == exp["extent"]
            feats = C.geometry_to_features(la.geometry)
            assert len(feats) == len(exp["features"])
            assert la.ids.tolist() == [f["id"] for f in exp["features"]]
            for (gt, parts), ef in zip(feats, exp["features"]):
                exp_parts = geojson_coords(ef["geometry"])
                assert len(parts) == len(exp_parts), "part count"
                for rings, exp_rings in zip(parts, exp_parts):
                    assert len(rings) == len(exp_rings), "ring count"
                    for ring, exp_ring in zip(rings, exp_rings):
                        lon, lat = project(ring[:, 0].astype(float), ring[:, 1].astype(float), la.extent)
                        got = np.column_stack([lon, lat])
                        assert np.allclose(got, np.array(exp_ring), atol=1e-9)
                for k, v in ef["properties"].items():
                    idx = la.ids.tolist().index(ef["id"])
                    assert la.props[k][idx] == v

    @pytest.mark.parametrize("name", BYTE_EXACT_CLASSES)
    def test_reencode_byte_exact(self, name):
        buf = open(f"{FIXTURE_DIR}/{name}.mlt", "rb").read()
        la = C.decode_tile(buf)[0]
        layer = C.LayerData(
            name=la.name,
            extent=la.extent,
            geometry=la.geometry,
            ids=la.ids,
            props=[C.PropColumn(k, "boolean", v, nullable=True) for k, v in la.props.items()],
        )
        assert C.encode_tile([layer]) == buf

    @pytest.mark.parametrize("name", ["polygon-boolean", "multipolygon-boolean"])
    def test_polygon_membership_after_reencode(self, name):
        """Re-encode (sans tessellation) then decode: membership preserved."""
        buf = open(f"{FIXTURE_DIR}/{name}.mlt", "rb").read()
        la = C.decode_tile(buf)[0]
        layer = C.LayerData(
            name=la.name,
            extent=la.extent,
            geometry=la.geometry,
            ids=la.ids,
            props=[C.PropColumn(k, "boolean", v, nullable=True) for k, v in la.props.items()],
        )
        la2 = C.decode_tile(C.encode_tile([layer]))[0]
        assert la2.ids.tolist() == la.ids.tolist()
        assert la2.props == la.props
        assert np.array_equal(la2.geometry.vertices, la.geometry.vertices)
        assert np.array_equal(la2.geometry.types, la.geometry.types)


def _mk_geometry(kinds: list[int], rng: np.random.RandomState) -> C.GeometryColumn:
    types, num_geoms, num_parts, num_rings, verts = [], [], [], [], []
    contains_poly = any(k in (C.MLT_POLYGON, C.MLT_MULTIPOLYGON) for k in kinds)

    def add_verts(n):
        verts.extend(rng.randint(0, 4096, n * 2).tolist())

    for k in kinds:
        types.append(k)
        if k == C.MLT_POINT:
            add_verts(1)
        elif k == C.MLT_MULTIPOINT:
            n = rng.randint(2, 5)
            num_geoms.append(n)
            add_verts(n)
        elif k == C.MLT_LINESTRING:
            n = rng.randint(2, 8)
            (num_rings if contains_poly else num_parts).append(n)
            add_verts(n)
        elif k == C.MLT_MULTILINESTRING:
            nl = rng.randint(2, 4)
            num_geoms.append(nl)
            for _ in range(nl):
                n = rng.randint(2, 6)
                (num_rings if contains_poly else num_parts).append(n)
                add_verts(n)
        elif k == C.MLT_POLYGON:
            nr = rng.randint(1, 3)
            num_parts.append(nr)
            for _ in range(nr):
                n = rng.randint(3, 8)
                num_rings.append(n)
                add_verts(n)
        elif k == C.MLT_MULTIPOLYGON:
            npoly = rng.randint(2, 3)
            num_geoms.append(npoly)
            for _ in range(npoly):
                nr = rng.randint(1, 2)
                num_parts.append(nr)
                for _ in range(nr):
                    n = rng.randint(3, 6)
                    num_rings.append(n)
                    add_verts(n)
    return C.GeometryColumn(
        types=np.array(types, dtype=np.int64),
        num_geometries=np.array(num_geoms, dtype=np.int64),
        num_parts=np.array(num_parts, dtype=np.int64),
        num_rings=np.array(num_rings, dtype=np.int64),
        vertices=np.array(verts, dtype=np.int64),
    )


class TestSelfRoundtrip:
    @given(st.lists(st.integers(0, 5), min_size=1, max_size=20), st.integers(0, 10**6))
    @settings(max_examples=40, deadline=None)
    def test_geometry_roundtrip(self, kinds, seed):
        rng = np.random.RandomState(seed % 2**31)
        g = _mk_geometry(kinds, rng)
        n = len(kinds)
        layer = C.LayerData(
            name="t",
            extent=4096,
            geometry=g,
            ids=np.arange(1, n + 1),
            props=[
                C.PropColumn("flag", "boolean", [bool(i % 2) for i in range(n)], nullable=True),
                C.PropColumn("rank", "int32", [i - 3 for i in range(n)], nullable=False),
                C.PropColumn("ele", "int32", [i if i % 3 else None for i in range(n)], nullable=True),
                C.PropColumn("name", "string", [f"n{i % 4}" for i in range(n)], nullable=True),
                C.PropColumn("speed", "double", [i * 1.5 for i in range(n)], nullable=False),
                C.PropColumn("big", "int64", [2**40 + i for i in range(n)], nullable=False),
            ],
        )
        la = C.decode_tile(C.encode_tile([layer]))[0]
        assert la.name == "t" and la.extent == 4096
        assert la.ids.tolist() == list(range(1, n + 1))
        assert np.array_equal(la.geometry.types, g.types)
        assert np.array_equal(la.geometry.vertices, g.vertices)
        assert np.array_equal(la.geometry.num_parts, g.num_parts)
        assert np.array_equal(la.geometry.num_rings, g.num_rings)
        assert np.array_equal(la.geometry.num_geometries, g.num_geometries)
        assert la.props["flag"] == [bool(i % 2) for i in range(n)]
        assert la.props["rank"] == [i - 3 for i in range(n)]
        assert la.props["ele"] == [i if i % 3 else None for i in range(n)]
        assert la.props["name"] == [f"n{i % 4}" for i in range(n)]
        assert la.props["speed"] == [i * 1.5 for i in range(n)]
        assert la.props["big"] == [2**40 + i for i in range(n)]

    def test_multi_layer_tile(self):
        rng = np.random.RandomState(7)
        g1 = _mk_geometry([C.MLT_POINT] * 5, rng)
        g2 = _mk_geometry([C.MLT_POLYGON, C.MLT_LINESTRING], rng)
        tile = C.encode_tile(
            [
                C.LayerData("poi", 4096, g1, ids=np.arange(5)),
                C.LayerData("land", 4096, g2, ids=np.array([10, 11]), props=[]),
            ]
        )
        layers = C.decode_tile(tile)
        assert [la.name for la in layers] == ["poi", "land"]
        assert layers[1].geometry.types.tolist() == [C.MLT_POLYGON, C.MLT_LINESTRING]

    def test_long_ids(self):
        g = _mk_geometry([C.MLT_POINT, C.MLT_POINT], np.random.RandomState(1))
        ids = np.array([2**33, 2**34])
        la = C.decode_tile(C.encode_tile([C.LayerData("x", 4096, g, ids=ids, has_long_ids=True)]))[0]
        assert la.ids.tolist() == ids.tolist()

    def test_fsst_decode(self):
        # symbols [he, llo, x] + escape: "hello hex" style corpus
        table = b"hello_"
        lengths = np.array([2, 3, 1])  # "he", "llo", "_"
        compressed = bytes([0, 1, 2, 255, ord("!")])
        assert C.fsst_decode(table, lengths, compressed) == b"hello_!"


class TestGeometryTopology:
    @given(st.lists(st.integers(0, 5), min_size=1, max_size=20), st.integers(0, 10**6))
    @settings(max_examples=60, deadline=None)
    def test_geometry_column_inverts_geometry_to_features(self, kinds, seed):
        g = _mk_geometry(kinds, np.random.RandomState(seed % 2**31))
        polygonal = (C.MLT_POLYGON, C.MLT_MULTIPOLYGON)
        features = [
            (t, [[r[:-1] if t in polygonal else r for r in rings] for rings in parts])
            for t, parts in C.geometry_to_features(g)
        ]
        rebuilt = C.geometry_column(features)
        for name in ("types", "num_geometries", "num_parts", "num_rings", "vertices"):
            got, want = getattr(rebuilt, name), getattr(g, name)
            assert got.dtype == np.int64 and np.array_equal(got, want), name

    @pytest.mark.parametrize("stream", ["vertices", "num_geometries", "num_parts", "num_rings"])
    @pytest.mark.parametrize("change", ["append", "drop"])
    def test_walk_rejects_topology_it_does_not_consume(self, stream, change):
        """A trailing vertex or count raises instead of being dropped, and
        a missing one raises ValueError instead of an IndexError."""
        g = _mk_geometry([C.MLT_POLYGON, C.MLT_MULTIPOINT, C.MLT_LINESTRING], np.random.RandomState(3))
        assert len(C.geometry_to_features(g)) == 3
        arr, k = getattr(g, stream), 2 if stream == "vertices" else 1
        setattr(g, stream, np.concatenate([arr, [2] * k]) if change == "append" else arr[:-k])
        with pytest.raises(ValueError, match="topology"):
            C.geometry_to_features(g)


class TestSharedDictStruct:
    def test_roundtrip(self):
        rng = np.random.RandomState(3)
        g = _mk_geometry([C.MLT_POINT] * 4, rng)
        struct = C.StructColumn(
            "name",
            [
                ("", ["Berlin", "Paris", None, "Berlin"]),
                (":en", ["Berlin", "Paris", "Rome", None]),
                (":de", [None, None, "Rom", "Berlin"]),
            ],
        )
        tile = C.encode_tile([C.LayerData("place", 4096, g, ids=np.arange(4), structs=[struct])])
        la = C.decode_tile(tile)[0]
        assert la.props["name"] == ["Berlin", "Paris", None, "Berlin"]
        assert la.props["name:en"] == ["Berlin", "Paris", "Rome", None]
        assert la.props["name:de"] == [None, None, "Rom", "Berlin"]

    def test_empty_child(self):
        g = _mk_geometry([C.MLT_POINT] * 2, np.random.RandomState(1))
        struct = C.StructColumn("name", [("", ["A", "B"]), (":fr", [None, None])])
        la = C.decode_tile(C.encode_tile([C.LayerData("p", 4096, g, ids=np.arange(2), structs=[struct])]))[0]
        assert la.props["name"] == ["A", "B"]
        assert la.props["name:fr"] == []  # zero-stream marker for empty child


    def test_all_null_struct(self):
        """A struct with no value in any child is one zero stream count;
        every walker must read it as such and go on to the next column."""
        g = _mk_geometry([C.MLT_POINT] * 3, np.random.RandomState(4))
        structs = [
            C.StructColumn("name", [("", [None] * 3), (":en", [None] * 3)]),
            C.StructColumn("ref", [("", ["a", None, "b"])]),
        ]
        tile = C.encode_tile([C.LayerData("p", 4096, g, ids=np.arange(3), structs=structs)])
        la = C.decode_tile(tile)[0]
        assert la.props == {"name": [], "name:en": [], "ref": ["a", None, "b"]}
        for fixture_rules in (True, False):
            assert C.reencode_tile(tile, fixture_rules=fixture_rules) == tile
        columns = [r["column"] for r in C.inspect_tile(tile)]
        assert "name" not in columns and "name:en" not in columns
        assert columns.count("ref") == 4  # shared dictionary + the root child


class TestMalformedFrames:
    """Truncated or padded frames raise ValueError in all three walkers
    instead of decoding to wrong values or being dropped."""

    WALKERS = (C.decode_tile, C.reencode_tile, C.inspect_tile)

    @staticmethod
    def _tile() -> bytes:
        g = _mk_geometry([C.MLT_POINT] * 3, np.random.RandomState(5))
        words = C.PropColumn("w", "string", ["alpha", "beta", "gamma"], nullable=False)
        return C.encode_tile([C.LayerData("t", 4096, g, ids=np.arange(3), props=[words])])

    def test_every_truncation_raises(self):
        tile = self._tile()
        assert C.decode_tile(tile)[0].props["w"] == ["alpha", "beta", "gamma"]
        for cut in range(1, len(tile)):
            for walk in self.WALKERS:
                with pytest.raises(ValueError):
                    walk(tile[:cut])

    def test_stray_bytes_after_last_column_raise(self):
        tile = self._tile()
        length, pos = K.varint_decode(tile, 1, 0)
        body = tile[pos:] + b"\x01\x02\x03"
        padded = K.varint_encode(np.array([len(body)], dtype=np.uint64)) + body
        for walk in self.WALKERS:
            with pytest.raises(ValueError, match="column walk"):
                walk(padded)

    def test_frame_past_tile_end_raises(self):
        # declares 5 body bytes, 2 follow
        for walk in self.WALKERS:
            with pytest.raises(ValueError, match="past the tile end"):
                walk(b"\x05\x07\x01")

    def test_zero_length_frame_raises(self):
        # the tag would be read from the next frame's length varint
        for walk in self.WALKERS:
            with pytest.raises(ValueError, match="inside its tag"):
                walk(b"\x00" + self._tile())


class TestPretessellated:
    def test_tessellated_layer_roundtrip(self):
        rng = np.random.RandomState(9)
        g = _mk_geometry([C.MLT_POLYGON, C.MLT_POINT, C.MLT_MULTIPOLYGON, C.MLT_LINESTRING], rng)
        layer = C.LayerData("land", 4096, g, ids=np.arange(4), tessellate=True)
        tile = C.encode_tile([layer])
        la = C.decode_tile(tile)[0]
        assert np.array_equal(la.geometry.types, g.types)
        assert np.array_equal(la.geometry.vertices, g.vertices)
        assert la.triangles is not None and la.index_buffer is not None
        assert la.triangles.sum() * 3 == la.index_buffer.shape[0]
        # every polygon with r rings and v verts tessellates to v - 2r + ... >= 1 triangle
        assert (la.triangles >= 1).all()

    def test_matches_reference_stream_layout(self):
        """Same 7-stream sequence as the reference's polygon fixtures."""
        from maplibre_tile_spec_spark.functions import kernels as K
        rng = np.random.RandomState(5)
        g = _mk_geometry([C.MLT_POLYGON], rng)
        _, geo = C.encode_geometry_column_pretessellated(g)
        kinds = []
        pos = 0
        for _ in range(7):
            meta, pos = K.unpack_stream_metadata(geo, pos)
            kinds.append((meta["physical_stream_type"], meta["logical_type"]))
            pos += meta["byte_length"]
        assert kinds == [
            (K.PST_LENGTH, 0),
            (K.PST_LENGTH, C.LT_GEOMETRIES),
            (K.PST_LENGTH, C.LT_PARTS),
            (K.PST_LENGTH, C.LT_RINGS),
            (K.PST_LENGTH, C.LT_TRIANGLES),
            (K.PST_OFFSET, C.OT_INDEX),
            (K.PST_DATA, C.DT_VERTEX),
        ]


class TestFsstEncode:
    def test_roundtrip_corpus(self):
        corpus = ("hello world, hello tile, hello spark! " * 50).encode()
        table, lens, comp = C.fsst_encode(corpus)
        assert C.fsst_decode(table, lens, comp) == corpus
        assert len(comp) < len(corpus) * 0.6  # repetitive text compresses

    def test_roundtrip_binaryish(self):
        rng = np.random.RandomState(0)
        corpus = rng.randint(0, 256, 2000, dtype=np.uint8).tobytes()
        table, lens, comp = C.fsst_encode(corpus)
        assert C.fsst_decode(table, lens, comp) == corpus

    def test_empty(self):
        table, lens, comp = C.fsst_encode(b"")
        assert C.fsst_decode(table, lens, comp) == b""

    def test_fsst_string_column_roundtrip(self):
        g = _mk_geometry([C.MLT_POINT] * 6, np.random.RandomState(2))
        # highly repetitive values so the fsst-dict candidate wins
        vals = ["residential_street_primary"] * 3 + ["residential_street_secondary"] * 2 + [None]
        layer = C.LayerData(
            "t", 4096, g, ids=np.arange(6),
            props=[C.PropColumn("class", "string", vals, nullable=True, use_fsst=True)],
        )
        la = C.decode_tile(C.encode_tile([layer]))[0]
        assert la.props["class"] == vals


class TestFsstByteParity:
    """The encoder must be byte-identical to the reference's
    SymbolTableBuilder — validated by re-encoding the corpora of real
    fixture FSST streams and comparing (table, lengths, compressed) exactly.
    A full sweep over all 2662 fixture streams passes; the suite keeps a
    representative sample per fixture family for runtime."""

    def _triples(self, path):
        buf = open(path, "rb").read()
        out = []
        for la_pos in [0]:
            pass
        # reuse decoder internals: walk tile, capture fsst stream triples
        import maplibre_tile_spec_spark.functions.kernels as K2

        pos, n = 0, len(buf)
        while pos < n:
            v, pos = K2.varint_decode(buf, 1, pos)
            length = int(v[0])
            start = pos
            v, pos = K2.varint_decode(buf, 1, pos)
            tag = int(v[0])
            end = start + length
            if tag != C.TAG_EMBEDDED:
                pos = end
                continue
            _name, p = C._get_string(buf, pos)
            v, p = K2.varint_decode(buf, 2, p)
            cols = []
            for _ in range(int(v[1])):
                tcv, p = K2.varint_decode(buf, 1, p)
                tc = int(tcv[0])
                cname, children = None, []
                if tc >= 10:
                    cname, p = C._get_string(buf, p)
                if tc == C.TC_STRUCT:
                    cc, p = K2.varint_decode(buf, 1, p)
                    for _ in range(int(cc[0])):
                        ctc, p = K2.varint_decode(buf, 1, p)
                        chn = None
                        if int(ctc[0]) >= 10:
                            chn, p = C._get_string(buf, p)
                        children.append((int(ctc[0]), chn))
                cols.append((tc, cname, children))

            def read_streams(k):
                nonlocal p
                caps = []
                for _ in range(k):
                    meta, p2 = K2.unpack_stream_metadata(buf, p)
                    caps.append((meta, bytes(buf[p2 : p2 + meta["byte_length"]])))
                    p = p2 + meta["byte_length"]
                return caps

            def grab(caps):
                sym_lengths = sym_table = compressed = None
                for meta, raw in caps:
                    pst = meta["physical_stream_type"]
                    if pst == K2.PST_LENGTH and meta["logical_type"] == C.LT_SYMBOL:
                        sym_lengths, _ = C._decode_int_stream_with_meta(raw, 0, meta, signed=False)
                    elif pst == K2.PST_DATA and meta["logical_type"] == C.DT_FSST:
                        sym_table = raw
                    elif pst == K2.PST_DATA and meta["logical_type"] in (C.DT_SINGLE, C.DT_SHARED):
                        compressed = raw
                if sym_lengths is not None and sym_table is not None and compressed is not None:
                    out.append((sym_table, sym_lengths, compressed))

            for tc, _cname, children in cols:
                if tc in (C.TC_ID_U32, C.TC_ID_U32_NULL, C.TC_ID_U64, C.TC_ID_U64_NULL):
                    read_streams(1 + (tc & 1))
                elif tc == C.TC_GEOMETRY:
                    ns, p = K2.varint_decode(buf, 1, p)
                    read_streams(int(ns[0]))
                elif tc == C.TC_STRUCT:
                    ns, p = K2.varint_decode(buf, 1, p)
                    grab(read_streams(int(ns[0]) - 2 * len(children) - 1))
                    for _tc2, _ch in children:
                        cns, p = K2.varint_decode(buf, 1, p)
                        read_streams(int(cns[0]))
                else:
                    if C._CODE_TO_SCALAR[tc & ~1] == "string":
                        ns, p = K2.varint_decode(buf, 1, p)
                        grab(read_streams(int(ns[0])))
                    else:
                        read_streams(1 + (tc & 1))
            pos = end
        return out

    @pytest.mark.parametrize(
        "fixture",
        [
            "amazon/11_1037_704.mlt",
            "amazon/5_16_11.mlt",
            "omt/10_530_682.mlt",
            "bing/4-12-6.mlt",
        ],
    )
    def test_reencode_fixture_fsst_streams_byte_exact(self, fixture):
        path = f"/root/reference/test/expected/tag0x01/{fixture}"
        if not os.path.exists(path):
            pytest.skip(f"fixture {fixture} absent")
        triples = self._triples(path)
        checked = 0
        for table, lens, comp in triples[:8]:
            corpus = C.fsst_decode(table, lens, comp)
            gt, gl, gc = C.fsst_encode(corpus)
            assert gt == table
            assert gl.tolist() == [int(x) for x in lens]
            assert gc == comp
            checked += 1
        if checked == 0:
            pytest.skip("no fsst streams in fixture")


class TestInspect:
    @requires_fixtures
    def test_inspect_matches_decode(self):
        buf = open(f"{FIXTURE_DIR}/point-boolean.mlt", "rb").read()
        recs = C.inspect_tile(buf)
        assert [r["column"] for r in recs] == ["id", "geometry", "geometry", "key", "key"]
        assert all(r["layer"] == "layer" for r in recs)
        # stream payload bytes + headers + metadata == tile size
        assert sum(r["byte_length"] for r in recs) < len(buf)

    def test_inspect_full_corpus(self):
        import glob
        # every reference fixture when present (omt tiles carry shared-dict
        # struct columns, the historical over-read regression), and always
        # the synthetic anchor corpus
        pattern = os.path.join(os.path.dirname(FIXTURE_DIR), "**", "*.mlt")
        fixtures = sorted(glob.glob(pattern, recursive=True))
        tiles = [open(f, "rb").read() for f in fixtures] + list(codec_corpus().values())
        for buf in tiles:
            recs = C.inspect_tile(buf)
            assert len(recs) > 0
            assert sum(r["byte_length"] for r in recs) <= len(buf)
        assert len(tiles) >= len(codec_corpus()) > 0

    def test_inspect_struct_tile(self):
        # regression: the declared shared-dict stream count (3+2*children)
        # includes the child varints; inspect must not over-read a header
        g = _mk_geometry([C.MLT_POINT] * 3, np.random.RandomState(7))
        st = C.StructColumn("name", [(":en", ["a", "b", None]), (":de", ["x", None, "y"])])
        layer = C.LayerData("t", 4096, g, ids=np.arange(3), props=[], structs=[st])
        buf = C.encode_tile([layer])
        recs = C.inspect_tile(buf)
        assert [r["column"] for r in recs] == [
            "id", "geometry", "geometry", "name", "name",
            "name:en", "name:en", "name:de", "name:de",
        ]
        assert C.decode_tile(buf)[0].props["name:en"] == ["a", "b", None]

    @staticmethod
    def _every_kind_tile() -> bytes:
        """Two layers that together carry every column kind encode_layer
        emits: u32 and u64 ids, GEOMETRY and GEOMETRY_Z, each scalar and
        logical type, struct, LIST (string and int elements), MAP, VEC2,
        VEC3 and RANGE_MAP, nullable and not."""
        rng = np.random.RandomState(3)
        plain = C.LayerData(
            "plain", 4096, _mk_geometry([C.MLT_POINT] * 3, rng),
            ids=np.array([1, 2**40, 3]), has_long_ids=True,
            props=[C.PropColumn("s", "string", ["a", None, "c"])],
        )
        g = _mk_geometry([C.MLT_LINESTRING] * 3, rng)
        g.z = rng.randint(-100, 100, g.vertices.shape[0] // 2).astype(np.int64)
        ext = C.LayerData(
            "ext", 4096, g, ids=np.arange(3),
            props=[
                C.PropColumn("b", "boolean", [True, None, False]),
                C.PropColumn("i", "int32", [1, -2, 3], nullable=False),
                C.PropColumn("u", "uint64", [None, 5, 2**40]),
                C.PropColumn("f", "float", [1.5, None, -2.0]),
                C.PropColumn("d", "double", [0.25, 1.0, 2.0], nullable=False),
                C.PropColumn("str", "string", ["x", "y", "x"], nullable=False),
                C.PropColumn("empty", "string", [None, None, None]),
                C.PropColumn("day", "date", [19000, None, 20000]),
                C.PropColumn("ts", "timestamp", [0, 1700000000000, None]),
                C.PropColumn("j", "json", ['{"a":1}', None, "[]"]),
            ],
            structs=[C.StructColumn("name", [("", ["n", None, "m"]), (":en", [None, "e", None])])],
            lists=[
                C.ListColumn("tags", "string", [["a", "b"], None, []]),
                C.ListColumn("nums", "int64", [[1], [2, 3], []], nullable=False),
            ],
            maps=[C.MapColumn("m", [{"k": "v"}, None, {}])],
            vecs=[
                C.VecColumn("v2", "int32", [(1, 2), None, (3, 4)]),
                C.VecColumn("v3", "double", [(1.0, 2.0, 3.0)] * 3, dims=3, nullable=False),
            ],
            range_maps=[C.RangeMapColumn("rm", [[(0.0, 0.5, "p")], None, []])],
            extensions=True,
        )
        return C.encode_tile([plain, ext])

    def test_inspect_every_column_kind(self):
        buf = self._every_kind_tile()
        recs = C.inspect_tile(buf)
        per_layer = {}
        for r in recs:
            per_layer.setdefault(r["layer"], []).append(r["column"])
        assert list(dict.fromkeys(per_layer["plain"])) == ["id", "geometry", "s"]
        assert list(dict.fromkeys(per_layer["ext"])) == [
            "id", "geometry", "b", "i", "u", "f", "d", "str", "empty", "day", "ts", "j",
            "name", "name:en", "tags", "nums", "m", "v2", "v3", "rm",
        ]
        # GEOMETRY_Z: the counted geometry streams, then one z per vertex
        z = [r for r in recs if r["layer"] == "ext" and r["column"] == "geometry"][-1]
        n_z = len(C.decode_tile(buf)[1].geometry.z)
        assert (z["stream"], z["technique"], z["num_values"]) == ("data", "none", n_z)
        m = [r["stream"] for r in recs if r["column"] == "m"]
        assert m[:2] == ["present", "length"] and len(m) >= 4  # + keys + values
        assert sum(r["byte_length"] for r in recs) < len(buf)
        assert [la.name for la in C.decode_tile(buf)] == ["plain", "ext"]

    def test_inspect_rejects_walk_short_of_frame_end(self):
        frame = self._every_kind_tile()
        from maplibre_tile_spec_spark.functions import kernels as K

        length, pos = K.varint_decode(frame, 1, 0)
        first = frame[: pos + int(length[0])]
        body = first[pos:] + b"\x00"  # one byte no column accounts for
        padded = K.varint_encode(np.array([len(body)], dtype=np.uint64)) + body
        with pytest.raises(ValueError, match="column walk"):
            C.inspect_tile(padded)


class TestUnknownFrameCopy:
    def test_long_unknown_frame_copies_length_varint(self):
        """An unknown (non-embedded) frame longer than 127 bytes carries a
        multi-byte length varint; the verbatim copy must preserve it
        (regression: buf[start-1:] dropped all but the last varint byte)."""
        import numpy as np

        from maplibre_tile_spec_spark.functions import kernels as K
        from maplibre_tile_spec_spark.functions.mlt_codec import reencode_tile

        body = b"\x07" + bytes(200)  # unknown tag 7 + 200-byte payload
        frame = K.varint_encode(np.array([len(body)], dtype=np.uint64)) + body
        assert len(frame) == len(body) + 2  # 2-byte length varint
        assert reencode_tile(frame) == frame

    def test_short_unknown_frame_still_verbatim(self):
        import numpy as np

        from maplibre_tile_spec_spark.functions import kernels as K
        from maplibre_tile_spec_spark.functions.mlt_codec import reencode_tile

        body = b"\x07" + bytes(10)
        frame = K.varint_encode(np.array([len(body)], dtype=np.uint64)) + body
        assert reencode_tile(frame) == frame


class TestListMapColumns:
    """Spec complex types (LIST/MAP, specification.md Nested Fields
    Encoding) — present/length-pair flattening. The reference's shipping
    encoder never emits these (MltTypeMap.java stops at struct-of-string);
    this is spec-beyond-reference coverage."""

    def _layer(self, **kw):
        import numpy as np

        g = C.GeometryColumn(
            types=np.zeros(4, dtype=np.int64),
            num_geometries=np.empty(0, np.int64),
            num_parts=np.empty(0, np.int64),
            num_rings=np.empty(0, np.int64),
            vertices=np.arange(8, dtype=np.int64),
        )
        kw.setdefault("extensions", True)
        return C.LayerData(name="l", extent=4096, geometry=g,
                           ids=np.arange(4, dtype=np.int64), **kw)

    def test_list_string_roundtrip_with_nulls(self):
        vals = [["a", "bb", "a"], None, [], ["zz"]]
        la = self._layer(lists=[C.ListColumn("tags", "string", vals)])
        out = C.decode_tile(C.encode_layer(la))[0]
        assert out.props["tags"] == vals

    def test_list_int64_roundtrip(self):
        vals = [[1, 2, 3], [-5], [], [2**40, 0]]
        la = self._layer(lists=[C.ListColumn("nums", "int64", vals, nullable=False)])
        out = C.decode_tile(C.encode_layer(la))[0]
        assert out.props["nums"] == vals

    def test_map_roundtrip_with_nulls(self):
        vals = [{"name": "x", "name:en": "y"}, None, {}, {"k": "v"}]
        la = self._layer(maps=[C.MapColumn("props", vals)])
        out = C.decode_tile(C.encode_layer(la))[0]
        assert out.props["props"] == vals

    def test_transcode_preserves_list_map_bytes(self):
        vals = [["a", "bb"], None, ["a"], []]
        maps = [{"k": "v"}, {"k": "w", "j": "v"}, None, {}]
        la = self._layer(
            lists=[C.ListColumn("tags", "string", vals)],
            maps=[C.MapColumn("props", maps)],
        )
        blob = C.encode_layer(la)
        assert C.reencode_tile(blob, fixture_rules=False) == blob


class TestVecAndRangeMap:
    """Remaining spec complex/logical types: fixed-size VEC_2/VEC_3 and
    RANGE_MAP (linear referencing) — spec-beyond-reference coverage."""

    def _layer(self, **kw):
        import numpy as np

        g = C.GeometryColumn(
            types=np.zeros(4, dtype=np.int64),
            num_geometries=np.empty(0, np.int64),
            num_parts=np.empty(0, np.int64),
            num_rings=np.empty(0, np.int64),
            vertices=np.arange(8, dtype=np.int64),
        )
        kw.setdefault("extensions", True)
        return C.LayerData(name="l", extent=4096, geometry=g,
                           ids=np.arange(4, dtype=np.int64), **kw)

    def test_vec2_int_roundtrip_with_nulls(self):
        vals = [(1, -2), None, (300000, 7), (0, 0)]
        la = self._layer(vecs=[C.VecColumn("disp", "int32", vals)])
        out = C.decode_tile(C.encode_layer(la))[0]
        assert out.props["disp"] == vals

    def test_vec3_double_roundtrip(self):
        vals = [(1.5, -2.25, 3.0), (0.0, 1e300, -4.5), (9.0, 8.0, 7.0), (1.0, 2.0, 3.0)]
        la = self._layer(vecs=[C.VecColumn("v3", "double", vals, dims=3, nullable=False)])
        out = C.decode_tile(C.encode_layer(la))[0]
        assert out.props["v3"] == vals  # f64 exact, no f32 coercion

    def test_range_map_roundtrip_with_nulls(self):
        vals = [
            [(0.0, 0.5, "paved"), (0.5, 1.0, "gravel")],
            None,
            [],
            [(0.25, 0.75, "bridge")],
        ]
        la = self._layer(range_maps=[C.RangeMapColumn("surface", vals)])
        out = C.decode_tile(C.encode_layer(la))[0]
        assert out.props["surface"] == vals

    def test_transcode_preserves_vec_rangemap_bytes(self):
        la = self._layer(
            vecs=[C.VecColumn("disp", "int32", [(1, 2), (3, 4), None, (5, 6)])],
            range_maps=[C.RangeMapColumn("rm", [[(0.0, 1.0, "x")], None, [], [(0.5, 0.6, "y")]])],
        )
        blob = C.encode_layer(la)
        assert C.reencode_tile(blob, fixture_rules=False) == blob


class TestGeometryZ:
    """GEOMETRY_Z (spec ComplexType vec3<int32>): standard geometry streams
    + trailing per-vertex signed z stream, type code 5 (unassigned in the
    reference's MltTypeMap — the slot next to GEOMETRY)."""

    def _layer(self, z):
        import numpy as np

        g = C.GeometryColumn(
            types=np.zeros(4, dtype=np.int64),
            num_geometries=np.empty(0, np.int64),
            num_parts=np.empty(0, np.int64),
            num_rings=np.empty(0, np.int64),
            vertices=np.array([0, 0, 10, 12, 100, 90, 7, 3], dtype=np.int64),
            z=np.asarray(z, dtype=np.int64) if z is not None else None,
        )
        return C.LayerData(name="l", extent=4096, geometry=g,
                           ids=np.arange(4, dtype=np.int64),
                           extensions=z is not None)

    def test_z_roundtrip(self):
        z = [-5, 0, 1200, 33]
        la = self._layer(z)
        out = C.decode_tile(C.encode_layer(la))[0]
        assert out.geometry.z is not None
        assert out.geometry.z.tolist() == z
        assert out.geometry.vertices.tolist() == la.geometry.vertices.tolist()

    def test_no_z_keeps_plain_geometry_code(self):
        la = self._layer(None)
        blob = C.encode_layer(la)
        out = C.decode_tile(blob)[0]
        assert out.geometry.z is None

    def test_transcode_preserves_z_bytes(self):
        blob = C.encode_layer(self._layer([1, 2, 3, 4]))
        assert C.reencode_tile(blob, fixture_rules=False) == blob


class TestArrowComplexTypes:
    def test_arrow_decode_covers_complex_columns(self):
        """decode_tile_to_arrow must produce typed Arrow arrays for the
        complex column types inference can't guess (map, range-map, vec)."""
        import numpy as np

        g = C.GeometryColumn(
            types=np.zeros(3, dtype=np.int64),
            num_geometries=np.empty(0, np.int64),
            num_parts=np.empty(0, np.int64),
            num_rings=np.empty(0, np.int64),
            vertices=np.arange(6, dtype=np.int64),
        )
        la = C.LayerData(
            name="l", extent=4096, geometry=g, ids=np.arange(3, dtype=np.int64),
            lists=[C.ListColumn("tags", "string", [["a"], None, ["b", "c"]])],
            maps=[C.MapColumn("m", [{"k": "v"}, None, {}])],
            vecs=[C.VecColumn("d", "int32", [(1, 2), None, (3, 4)])],
            range_maps=[C.RangeMapColumn("rm", [[], None, [(0.0, 1.0, "x")]])],
            extensions=True,
        )
        batch = C.decode_tile_to_arrow(C.encode_layer(la))["l"]
        d = batch.to_pydict()
        assert d["tags"] == [["a"], None, ["b", "c"]]
        assert d["m"] == [[("k", "v")], None, []]
        assert d["d"] == [[1, 2], None, [3, 4]]
        assert d["rm"][2] == [{"lo": 0.0, "hi": 1.0, "value": "x"}]
        assert "map" in str(batch.schema.field("m").type)


class TestLogicalScalarTypes:
    """Spec LogicalScalarType (DATE=int32 days, TIMESTAMP=int64 ms,
    JSON=string): logical codes over the physical scalar layouts — the
    reference's Tag0x01 map has no codes for these (spec-beyond-reference)."""

    def _layer(self, props):
        import numpy as np

        g = C.GeometryColumn(
            types=np.zeros(3, dtype=np.int64),
            num_geometries=np.empty(0, np.int64),
            num_parts=np.empty(0, np.int64),
            num_rings=np.empty(0, np.int64),
            vertices=np.arange(6, dtype=np.int64),
        )
        return C.LayerData(name="l", extent=4096, geometry=g,
                           ids=np.arange(3, dtype=np.int64), props=props,
                           extensions=True)

    def test_date_timestamp_json_roundtrip(self):
        la = self._layer([
            C.PropColumn("d", "date", [19000, None, 20000]),
            C.PropColumn("ts", "timestamp", [1700000000000, 0, None]),
            C.PropColumn("j", "json", ['{"a":1}', None, "[]"]),
        ])
        out = C.decode_tile(C.encode_layer(la))[0]
        assert out.props["d"] == [19000, None, 20000]
        assert out.props["ts"] == [1700000000000, 0, None]
        assert out.props["j"] == ['{"a":1}', None, "[]"]
        assert out.prop_types == {"d": "date", "ts": "timestamp", "j": "json"}
        # a projected decode types only the columns it decoded
        pruned = C.decode_tile(C.encode_layer(la), columns={"ts"})[0]
        assert set(pruned.props) == {"ts"} and pruned.prop_types == {"ts": "timestamp"}

    def test_transcode_preserves_logical_bytes(self):
        la = self._layer([
            C.PropColumn("d", "date", [1, 2, 3], nullable=False),
            C.PropColumn("j", "json", ["{}", "[]", "1"]),
        ])
        blob = C.encode_layer(la)
        assert C.reencode_tile(blob, fixture_rules=False) == blob


class TestExtensionGate:
    """ADVICE r3: extension type codes (5, 32-48) are unassigned upstream —
    emitting them must be an explicit opt-in so reference-compatible output
    can be guaranteed by default."""

    def test_extension_columns_require_opt_in(self):
        import numpy as np

        g = C.GeometryColumn(
            types=np.zeros(2, dtype=np.int64),
            num_geometries=np.empty(0, np.int64),
            num_parts=np.empty(0, np.int64),
            num_rings=np.empty(0, np.int64),
            vertices=np.arange(4, dtype=np.int64),
        )
        la = C.LayerData(
            name="l", extent=4096, geometry=g,
            lists=[C.ListColumn("tags", "string", [["a"], ["b"]])],
        )
        import pytest as _pytest

        with _pytest.raises(ValueError, match="extension type codes"):
            C.encode_layer(la)
        la.extensions = True
        assert C.encode_layer(la)

    @staticmethod
    def _frame_tag(blob):
        from maplibre_tile_spec_spark.functions import kernels as K

        _, pos = K.varint_decode(blob, 1, 0)  # length varint
        v, _ = K.varint_decode(blob, 1, pos)
        return int(v[0])

    def _ext_layer(self):
        import numpy as np

        g = C.GeometryColumn(
            types=np.zeros(2, dtype=np.int64),
            num_geometries=np.empty(0, np.int64),
            num_parts=np.empty(0, np.int64),
            num_rings=np.empty(0, np.int64),
            vertices=np.arange(4, dtype=np.int64),
        )
        return C.LayerData(
            name="l", extent=4096, geometry=g,
            lists=[C.ListColumn("tags", "string", [["a"], ["b"]])],
            extensions=True,
        )

    def test_extension_tile_gets_distinct_frame_tag(self):
        """VERDICT r4 #6: extension tiles are self-describing — frame tag 2,
        not the reference's 0x01, so reference decoders fail fast instead of
        mis-parsing codes 32-48."""
        blob = C.encode_layer(self._ext_layer())
        assert self._frame_tag(blob) == C.TAG_EXTENDED
        # still decodes, and the transcode path re-emits the same tag bytes
        out = C.decode_tile(blob)[0]
        assert out.props["tags"] == [["a"], ["b"]]
        assert C.reencode_tile(blob, fixture_rules=False) == blob

    def test_extensions_flag_without_extension_content_stays_reference_tag(self):
        import numpy as np

        g = C.GeometryColumn(
            types=np.zeros(2, dtype=np.int64),
            num_geometries=np.empty(0, np.int64),
            num_parts=np.empty(0, np.int64),
            num_rings=np.empty(0, np.int64),
            vertices=np.arange(4, dtype=np.int64),
        )
        la = C.LayerData(name="l", extent=4096, geometry=g, extensions=True)
        assert self._frame_tag(C.encode_layer(la)) == C.TAG_EMBEDDED

    def test_legacy_tag1_extension_tile_still_decodes(self):
        """Backward compat: extension tiles written before the tag landed
        (frame tag 0x01 + extension codes) must keep decoding."""
        from maplibre_tile_spec_spark.functions import kernels as K
        import numpy as np

        blob = C.encode_layer(self._ext_layer())
        _, pos = K.varint_decode(blob, 1, 0)
        body = blob[pos + 1 :]  # strip the 1-byte tag varint
        legacy = (
            K.varint_encode(np.array([len(body) + 1], dtype=np.uint64))
            + bytes([C.TAG_EMBEDDED])
            + body
        )
        out = C.decode_tile(legacy)[0]
        assert out.props["tags"] == [["a"], ["b"]]


# ---------------------------------------------------------------------------
# codec byte anchors
# ---------------------------------------------------------------------------

CODEC_ANCHORS = os.path.join(os.path.dirname(__file__), "data", "codec_anchors.json")


def _points(xy) -> C.GeometryColumn:
    xy = np.asarray(xy, dtype=np.int64).ravel()
    n = xy.shape[0] // 2
    empty = np.empty(0, np.int64)
    return C.GeometryColumn(np.zeros(n, np.int64), empty, empty, empty, xy)


def _integer_props(n: int, rng: np.random.RandomState) -> list:
    """One int column per logical technique: const, RLE, delta, delta+RLE
    and plain, plus unsigned, 64-bit and nullable variants."""
    counts = rng.randint(0, 2**31 - 1, n).tolist()
    return [
        C.PropColumn("const", "int32", [7] * n, nullable=False),
        C.PropColumn("runs", "int32", [i // 25 * 3 - 4 for i in range(n)], nullable=False),
        C.PropColumn("rising", "int32", np.cumsum(rng.randint(200, 5000, n)).tolist(), nullable=False),
        C.PropColumn("step", "int32", [5 + 3 * i for i in range(n)], nullable=False),
        C.PropColumn("noise", "int32", rng.randint(-(2**31), 2**31 - 1, n).tolist(), nullable=False),
        C.PropColumn("count", "uint32", [None if i % 7 == 0 else v for i, v in enumerate(counts)]),
        C.PropColumn("big", "int64", [2**40 + (i // 10) for i in range(n)], nullable=False),
        C.PropColumn("ubig", "uint64", [None if i % 5 == 0 else 2**50 + 17 * i for i in range(n)]),
    ]


def _string_props(n: int, rng: np.random.RandomState) -> list:
    """Plain (all unique), dictionary (few distinct) and FSST (long
    repetitive values) string columns, nullable and not."""
    streets = ["residential_street_primary", "residential_street_secondary", "service_road_parking"]
    uids = [f"u{i:05d}-{rng.randint(10**6)}" for i in range(n)]
    return [
        C.PropColumn("uid", "string", uids, nullable=False),
        C.PropColumn("kind", "string", [["shop", "", "café", None][i % 4] for i in range(n)]),
        C.PropColumn(
            "street", "string", [f"{streets[i % 3]}_{i % 29}" if i % 11 else None for i in range(n)],
            use_fsst=True,
        ),
        C.PropColumn(
            "label", "string", [streets[(i // 4) % 3] + str(i % 9) for i in range(n)],
            nullable=False, use_fsst=True,
        ),
    ]


def _complex_columns() -> dict:
    """LIST, MAP, VEC2/VEC3 and RANGE_MAP columns over six features,
    nullable and not."""
    return dict(
        lists=[
            C.ListColumn("tags", "string", [["a", "b"], None, [], ["c"], ["a", "a", "d"], None]),
            C.ListColumn("nums", "int64", [[1], [2, 3], [], [2**40], [-5, 0], [9]], nullable=False),
            C.ListColumn("ratios", "double", [[0.5], None, [1.25, 2.0], [], None, [3.0]]),
        ],
        maps=[
            C.MapColumn("m", [{"k": "v"}, None, {}, {"a": "1", "b": "2"}, {"k": "w"}, None]),
            C.MapColumn("tags_map", [{"x": "y"}] * 6, nullable=False),
        ],
        vecs=[
            C.VecColumn("v2", "int32", [(1, 2), None, (3, 4), (-5, 6), None, (0, 0)]),
            C.VecColumn("v2l", "int64", [(2**40, -1)] * 6, nullable=False),
            C.VecColumn("v3", "double", [(1.0, 2.5, -3.0)] * 6, dims=3, nullable=False),
            C.VecColumn("v3f", "float", [(0.1, 0.2, 0.3), None] * 3, dims=3),
        ],
        range_maps=[
            C.RangeMapColumn("rm", [[(0.0, 0.5, "p")], None, [], [(0.25, 0.75, "q"), (0.75, 1.0, "p")], None, []]),
            C.RangeMapColumn("rm2", [[(0.0, 1.0, "all")]] * 6, nullable=False),
        ],
    )


def _hand_frame(header: bytes, body: bytes, tag: int = C.TAG_EMBEDDED) -> bytes:
    """Frame a layer header and column bodies the way encode_layer does."""
    payload = C._varint1(tag) + header + body
    return K.varint_encode(np.array([len(payload)], dtype=np.uint64)) + payload


def _layer_header(name: str, columns: list[tuple[int, str | None]]) -> bytes:
    """Layer name, extent 4096 and one (type code, column name) per column."""
    out = C._put_string(name) + C._varint1(4096) + C._varint1(len(columns))
    for tc, cname in columns:
        out += C._varint1(tc) + (C._put_string(cname) if cname is not None else b"")
    return out


def _nullable_id_tile() -> bytes:
    """Nullable u32 and u64 ID columns (type codes 1 and 3): a present
    stream before the id data stream."""
    out = b""
    for name, tc, bits, ids in (
        ("ids32", C.TC_ID_U32_NULL, 32, [3, None, 5, 9, None]),
        ("ids64", C.TC_ID_U64_NULL, 64, [None, 2**40, 2**40 + 1, None, 7]),
    ):
        n_geo, geo = C.encode_geometry_column(_points(np.arange(10) * 97))
        present = np.array([v is not None for v in ids])
        body = C._boolean_stream(present, K.PST_PRESENT)
        non_null = np.array([v for v in ids if v is not None], dtype=np.int64)
        body += C._int_stream(non_null, False, K.PST_DATA, C.DT_NONE, bits=bits)
        header = _layer_header(name, [(tc, None), (C.TC_GEOMETRY, None)])
        out += _hand_frame(header, body + C._varint1(n_geo) + geo)
    return out


def _zero_stream_string_tile() -> bytes:
    """A string column whose stream count is zero, between two columns
    with streams."""
    n_geo, geo = C.encode_geometry_column(_points(np.arange(6) * 501))
    header = _layer_header("zs", [
        (C.TC_GEOMETRY, None),
        (C._SCALAR_CODES["string"] + 1, "nothing"),
        (C._SCALAR_CODES["int32"], "rank"),
    ])
    body = C._varint1(n_geo) + geo + C._varint1(0)
    body += C.encode_prop_column(C.PropColumn("rank", "int32", [1, 2, 3], nullable=False))
    return _hand_frame(header, body)


def codec_corpus() -> dict[str, bytes]:
    """Deterministic synthetic tiles that together reach every encoding
    branch of the codec, keyed by case name."""
    rng = np.random.RandomState(2024)
    n = 300

    def tile(name: str, geometry: C.GeometryColumn, extent: int = 4096, **kw) -> bytes:
        return C.encode_tile([C.LayerData(name, extent, geometry, **kw)])

    def scatter(n_points: int, extent: int = 4096) -> C.GeometryColumn:
        return _points(rng.randint(0, extent, 2 * n_points))

    mixed = _mk_geometry([0, 1, 2, 3, 4, 5] * 4, rng)
    # a random walk: neighbouring vertices are close, so plain deltas win
    walk = 2000 + np.cumsum(rng.randint(-30, 31, mixed.vertices.shape).reshape(-1, 2), axis=0)
    mixed.vertices = walk.ravel().astype(np.int64)
    # few distinct vertices: on a diagonal the Hilbert dictionary wins, on
    # a dense grid the Morton dictionary does
    diag = np.column_stack([np.arange(20) * 200, np.arange(20) * 199])[np.repeat(np.arange(20), 5)]
    grid = np.column_stack([np.tile(np.arange(8), 8), np.repeat(np.arange(8), 8)]) + 1000
    polygons = _mk_geometry([C.MLT_POLYGON, C.MLT_POINT, C.MLT_MULTIPOLYGON, C.MLT_LINESTRING] * 3, rng)
    lines = _mk_geometry([C.MLT_LINESTRING, C.MLT_MULTILINESTRING] * 3, rng)
    lines.z = rng.randint(-500, 3000, lines.vertices.shape[0] // 2).astype(np.int64)
    points = scatter(n)
    long_ids = np.array([2**40] * 40 + [2**41 + 3 * i for i in range(40)], dtype=np.int64)
    long_props = [C.PropColumn("big", "int64", long_ids.tolist(), nullable=False)]
    ints = _integer_props(n, rng)
    words = ["alpha", "beta", "gamma", "delta", "epsilon"]
    return {
        "geometry_plain": tile("mixed", mixed, ids=np.arange(24)),
        "geometry_hilbert_dict": tile("diag", _points(diag), ids=np.arange(100)),
        "geometry_morton_dict": tile("grid", _points(grid[rng.randint(0, 64, 300)]), ids=np.arange(300)),
        "geometry_pretessellated": tile("land", polygons, ids=np.arange(12), tessellate=True),
        "geometry_z": tile("z", lines, ids=np.arange(6), extensions=True),
        "integers": tile("ints", points, ids=np.arange(n), props=ints),
        "integers_fastpfor": tile("ints", points, ids=np.arange(n), props=ints, plt=K.PLT_FASTPFOR),
        "long_ids_rle_off": tile("long", scatter(80), ids=long_ids, has_long_ids=True, props=long_props),
        "long_ids_rle_on": tile(
            "long", scatter(80), ids=long_ids, has_long_ids=True, props=long_props, long_auto_rle=True
        ),
        "strings": tile("strings", points, ids=np.arange(n), props=_string_props(n, rng)),
        "structs": tile("places", points, ids=np.arange(n), structs=[
            C.StructColumn("name", [
                ("", [words[i % 5] for i in range(n)]),
                (":en", [words[(i + 1) % 5] if i % 4 else None for i in range(n)]),
                (":xx", [None] * n),
            ]),
        ]),
        "structs_fsst": tile("places", points, ids=np.arange(n), use_fsst=True, structs=[
            C.StructColumn("name", [
                ("", [f"{words[i % 5]}_street_{i % 13}" for i in range(n)]),
                (":de", [f"{words[i % 5]}strasse_{i % 17}" if i % 3 else None for i in range(n)]),
            ]),
            C.StructColumn("ref", [(":a", [f"A{i % 3}" for i in range(n)])]),
        ]),
        # boolean byte-RLE: long runs, a random bitmap (literal groups longer
        # than 128 bytes) and a present stream; then both float widths
        "booleans_floats": tile("flags", scatter(4 * n), props=[
            C.PropColumn("blocks", "boolean", [i // 40 % 2 == 0 for i in range(4 * n)], nullable=False),
            C.PropColumn("coin", "boolean", rng.randint(0, 2, 4 * n).astype(bool).tolist(), nullable=False),
            C.PropColumn("maybe", "boolean", [None if i % 3 == 0 else i % 2 == 0 for i in range(4 * n)]),
            C.PropColumn("f", "float", [None if i % 4 == 0 else i / 8 for i in range(4 * n)]),
            C.PropColumn("d", "double", (rng.rand(4 * n) * 1e3).tolist(), nullable=False),
        ]),
        "complex_columns": tile("cx", scatter(6), ids=np.arange(6), extensions=True, **_complex_columns()),
        "logical_types": tile("logical", scatter(5), ids=np.arange(5), extensions=True, props=[
            C.PropColumn("day", "date", [19000, None, 20000, 19001, None]),
            C.PropColumn("ts", "timestamp", [0, 1700000000000, None, 1700000000001, 5]),
            C.PropColumn("doc", "json", ['{"a":1}', None, "[]", "null", '"s"']),
            C.PropColumn("day2", "date", [1, 2, 3, 4, 5], nullable=False),
        ]),
        "multi_layer_unknown_frame": (
            tile("a", scatter(4), ids=np.arange(4))
            + _hand_frame(b"\x00opaque", b"", tag=7)
            + tile("b", scatter(3, 512), 512, props=[C.PropColumn("w", "string", ["x", "y", "x"], nullable=False)])
        ),
        "hand_nullable_ids": _nullable_id_tile(),
        "hand_zero_stream_string": _zero_stream_string_tile(),
    }


# a minimal MVT protobuf writer (vector-tile-spec 2.1): layers of features,
# each feature (id, MVT geometry type, vertex runs, {key: (kind, value)})


def _pb_varint(v: int) -> bytes:
    out = bytearray()
    while v > 0x7F:
        out.append(v & 0x7F | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _pb_uint(field: int, v: int) -> bytes:
    return _pb_varint(field << 3) + _pb_varint(v)


def _pb_bytes(field: int, data: bytes) -> bytes:
    return _pb_varint(field << 3 | 2) + _pb_varint(len(data)) + data


def _pb_packed(field: int, values: list[int]) -> bytes:
    return _pb_bytes(field, b"".join(_pb_varint(v) for v in values))


def _zigzag(v: int) -> int:
    return ((v << 1) ^ (v >> 63)) & 0xFFFFFFFFFFFFFFFF


def _mvt_value(kind: str, v) -> bytes:
    if kind == "string":
        return _pb_bytes(1, v.encode())
    if kind == "float":
        return _pb_varint(2 << 3 | 5) + struct.pack("<f", v)
    if kind == "double":
        return _pb_varint(3 << 3 | 1) + struct.pack("<d", v)
    code = {"int": 4, "uint": 5, "sint": 6, "bool": 7}[kind]
    return _pb_uint(code, _zigzag(v) if kind == "sint" else int(v) & 0xFFFFFFFFFFFFFFFF)


def _mvt_commands(geom_type: int, runs: list) -> list[int]:
    """MoveTo/LineTo/ClosePath commands with zigzag deltas: one MoveTo over
    every point of a point feature, else MoveTo + LineTo per run and a
    ClosePath after each polygon ring (which may repeat its first vertex)."""
    cmds: list[int] = []
    cur = (0, 0)

    def params(pts) -> None:
        nonlocal cur
        for x, y in pts:
            cmds.extend((_zigzag(x - cur[0]), _zigzag(y - cur[1])))
            cur = (x, y)

    if geom_type == 1:
        pts = [p for run in runs for p in run]
        cmds.append(1 | len(pts) << 3)
        params(pts)
        return cmds
    for run in runs:
        cmds.append(1 | 1 << 3)
        params(run[:1])
        cmds.append(2 | (len(run) - 1) << 3)
        params(run[1:])
        if geom_type == 3:
            cmds.append(7 | 1 << 3)
    return cmds


def mvt_tile(layers: list) -> bytes:
    """[(name, extent, [(id, geom_type, runs, props)])] → MVT tile bytes."""
    out = b""
    for name, extent, features in layers:
        keys: dict = {}
        values: dict = {}
        body = b""
        for fid, geom_type, runs, props in features:
            tags = []
            for k, kv in props.items():
                tags += [keys.setdefault(k, len(keys)), values.setdefault(kv, len(values))]
            feature = (
                _pb_uint(1, fid)
                + _pb_packed(2, tags)
                + _pb_uint(3, geom_type)
                + _pb_packed(4, _mvt_commands(geom_type, runs))
            )
            body += _pb_bytes(2, feature)
        layer = _pb_uint(15, 2) + _pb_bytes(1, name.encode()) + body
        layer += b"".join(_pb_bytes(3, k.encode()) for k in keys)
        layer += b"".join(_pb_bytes(4, _mvt_value(*kv)) for kv in values)
        out += _pb_bytes(3, layer + _pb_uint(5, extent))
    return out


def mvt_corpus() -> dict[str, bytes]:
    """Deterministic one-layer MVT tiles for the converter anchors: points
    and multipoints, a line-only layer, polygons with holes and
    multipolygons split by winding (rings with and without a repeated
    closing vertex), and a mixed line + polygon layer."""
    rng = np.random.RandomState(2025)

    def walk(n: int) -> list:
        start = rng.randint(300, 3800, 2)
        return [tuple(p) for p in (start + np.cumsum(rng.randint(-60, 61, (n, 2)), axis=0)).tolist()]

    def box(x0: int, y0: int, x1: int, y1: int, hole: bool = False, closed: bool = False) -> list:
        """Positive shoelace area (an exterior ring) unless ``hole``."""
        ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
        ring = ring[::-1] if hole else ring
        return ring + ring[:1] if closed else ring

    def props(i: int) -> dict:
        out = {"name": ("string", f"feature_{i % 7}_of_the_layer"), "rank": ("int", i - 5)}
        if i % 3:
            out.update(big=("uint", 2**40 + i), w=("double", i / 4), s=("sint", -i))
        if i % 4:
            out.update(f=("float", i / 2), ok=("bool", i % 2 == 0))
        return out

    def points(i: int) -> tuple:
        if i % 3 == 0:
            return 1, [[p] for p in walk(int(rng.randint(2, 6)))]
        return 1, [walk(1)]

    def lines(i: int) -> tuple:
        return 2, [walk(int(rng.randint(2, 9))) for _ in range(1 if i % 2 else int(rng.randint(2, 4)))]

    def polygons(i: int) -> tuple:
        x, y = (int(v) for v in rng.randint(0, 3000, 2))
        closed = i % 2 == 0
        outer = box(x, y, x + 400, y + 300, closed=closed)
        if i % 4 == 0:  # exterior only
            return 3, [outer]
        if i % 4 == 1:  # two holes
            return 3, [outer, box(x + 20, y + 20, x + 90, y + 80, hole=True, closed=closed),
                       box(x + 200, y + 100, x + 260, y + 150, hole=True, closed=not closed)]
        # multipolygon: a second exterior opens a second polygon
        second = box(x + 500, y, x + 700, y + 200, closed=not closed)
        if i % 4 == 2:
            return 3, [outer, second]
        return 3, [outer, box(x + 50, y + 50, x + 100, y + 100, hole=True), second,
                   box(x + 550, y + 50, x + 600, y + 80, hole=True, closed=True)]

    def layer(name: str, makers: list, n: int) -> bytes:
        features = [(i + 1, *makers[i % len(makers)](i), props(i)) for i in range(n)]
        return mvt_tile([(name, 4096, features)])

    return {
        "mvt_points": layer("pois", [points], 24),
        "mvt_lines": layer("roads", [lines], 24),
        "mvt_polygons": layer("land", [polygons], 24),
        "mvt_mixed": layer("mixed", [lines, polygons, lines, polygons, points], 40),
    }


def mvt_digests(mvt: bytes) -> dict:
    """sha256 and size of the converter's output under each CLI setting."""
    from maplibre_tile_spec_spark.functions import mlt_cli as CLI

    return {
        "convert_mvt()": _digest(CLI.convert_mvt(mvt)),
        "convert_mvt(use_fsst=True)": _digest(CLI.convert_mvt(mvt, use_fsst=True)),
        "convert_mvt(use_fastpfor=True)": _digest(CLI.convert_mvt(mvt, use_fastpfor=True)),
    }


def _canonical(obj):
    """A value → plain Python structure whose repr pins every decoded value
    and array dtype."""
    if isinstance(obj, np.ndarray):
        return ("ndarray", str(obj.dtype), obj.tolist())
    if hasattr(obj, "__dataclass_fields__"):
        return (type(obj).__name__, {k: _canonical(getattr(obj, k)) for k in obj.__dataclass_fields__})
    if isinstance(obj, dict):
        return {k: _canonical(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return type(obj)(_canonical(v) for v in obj)
    return obj


def _digest(data) -> dict:
    raw = data if isinstance(data, bytes) else repr(_canonical(data)).encode()
    return {"sha256": hashlib.sha256(raw).hexdigest(), "size": len(raw)}


def codec_digests(tile: bytes) -> dict:
    """sha256 and size of one tile and of everything the codec derives from
    it: the re-encode under each rule set, a full decode, a decode that
    projects every second property column, and the stream inspection."""
    full = C.decode_tile(tile)
    names = sorted({k for la in full for k in la.props})
    out = {"encode": _digest(tile)}
    for fixture_rules in (True, False):
        for use_fsst in (True, False):
            key = f"reencode(fixture_rules={fixture_rules}, use_fsst={use_fsst})"
            out[key] = _digest(C.reencode_tile(tile, use_fsst=use_fsst, fixture_rules=fixture_rules))
    out["decode"] = _digest(full)
    out["decode(columns=every second)"] = _digest(C.decode_tile(tile, columns=set(names[::2])))
    out["inspect"] = _digest(C.inspect_tile(tile))
    return out


class TestCodecAnchors:
    """Codec bytes are pinned by committed anchors: every corpus tile, its
    re-encodes, decodes and stream inspection must hash to the values in
    tests/data/codec_anchors.json, so a refactor of the codec is checked
    here without the reference fixture tree.

    The anchors change only with a deliberate format change. Then run
    ``python -m tests.test_mlt_codec`` from the repository root, which
    rewrites the JSON from the current codec, and review which digests
    moved before committing it."""

    @pytest.mark.parametrize("case", sorted(codec_corpus()))
    def test_digests_match_anchor(self, case):
        with open(CODEC_ANCHORS) as f:
            want = json.load(f)[case]
        got = codec_digests(codec_corpus()[case])
        assert got == want

    @pytest.mark.parametrize("case", sorted(mvt_corpus()))
    def test_mvt_digests_match_anchor(self, case):
        with open(CODEC_ANCHORS) as f:
            want = json.load(f)[case]
        assert mvt_digests(mvt_corpus()[case]) == want

    def test_mvt_corpus_converts_to_its_features(self):
        """The MVT writer and the converter agree: every MVT feature comes
        back from the MLT tile with its id, geometry class and vertex runs
        (a repeated closing vertex dropped)."""
        from maplibre_tile_spec_spark.functions import mlt_cli as CLI
        from maplibre_tile_spec_spark.functions import mvt as M

        for mvt in mvt_corpus().values():
            want = M.decode_mvt(mvt)[0].features
            la = C.decode_tile(CLI.convert_mvt(mvt))[0]
            assert la.ids.tolist() == [f.id for f in want]
            for f, (t, parts) in zip(want, C.geometry_to_features(la.geometry), strict=True):
                assert t % 3 + 1 == f.geom_type
                polygonal = t in (C.MLT_POLYGON, C.MLT_MULTIPOLYGON)
                got = [r[:-1] if polygonal else r for rings in parts for r in rings]
                runs = [r[:-1] if polygonal and np.array_equal(r[0], r[-1]) else r for r in f.geometry]
                assert [r.tolist() for r in got] == [r.tolist() for r in runs]

    def test_every_case_is_anchored(self):
        with open(CODEC_ANCHORS) as f:
            assert sorted(json.load(f)) == sorted({**codec_corpus(), **mvt_corpus()})

    def test_corpus_reaches_every_branch(self):
        corpus = codec_corpus()
        recs = {name: C.inspect_tile(tile) for name, tile in corpus.items()}
        techniques = {r["technique"] for rs in recs.values() for r in rs}
        assert {"none", "delta", "rle", "delta+rle", "componentwise_delta", "morton+delta"} <= techniques

        def geometry_streams(name):
            return {(r["stream"], r["technique"]) for r in recs[name] if r["column"] == "geometry"}

        plain, hilbert, morton = (
            geometry_streams(f"geometry_{kind}") for kind in ("plain", "hilbert_dict", "morton_dict")
        )
        assert ("data", "componentwise_delta") in plain and "offset" not in {s for s, _ in plain}
        assert ("data", "componentwise_delta") in hilbert and "offset" in {s for s, _ in hilbert}
        assert ("data", "morton+delta") in morton
        assert C.decode_tile(corpus["geometry_pretessellated"])[0].triangles is not None
        assert C.decode_tile(corpus["geometry_z"])[0].geometry.z is not None
        # FastPFOR and the u64 RLE rule change the bytes of the same layer
        assert corpus["integers_fastpfor"] != corpus["integers"]
        assert corpus["long_ids_rle_on"] != corpus["long_ids_rle_off"]
        # string candidates: plain (2 streams), dictionary (3), FSST (5)
        n_streams = {r["column"]: 0 for r in recs["strings"]}
        for r in recs["strings"]:
            n_streams[r["column"]] += 1
        assert [n_streams[c] for c in ("uid", "kind", "street", "label")] == [2, 4, 6, 5]
        # shared dictionaries: plain (2 streams) and FSST (4), each followed
        # by the root child's present and offset streams under the same label
        assert len([r for r in recs["structs"] if r["column"] == "name"]) == 4
        assert len([r for r in recs["structs_fsst"] if r["column"] == "name"]) == 6
        # boolean byte-RLE: a literal group longer than 128 bytes
        coin = [r for r in recs["booleans_floats"] if r["column"] == "coin"]
        assert coin[0]["byte_length"] > 129


if __name__ == "__main__":
    # regenerate the committed anchors (see TestCodecAnchors)
    anchors = {name: codec_digests(tile) for name, tile in codec_corpus().items()}
    anchors.update({name: mvt_digests(mvt) for name, mvt in mvt_corpus().items()})
    with open(CODEC_ANCHORS, "w") as f:
        json.dump(anchors, f, indent=1, sort_keys=True)
        f.write("\n")
