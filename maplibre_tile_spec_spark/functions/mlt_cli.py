"""MVT → MLT conversion with the reference CLI's default configuration.

Reproduces ``mlt-cli encode.jar`` semantics (Encode.java:108-160,
MltConverter.convertMvt:384-509 with ``optimizations = {}``): ids included,
no feature sorting / id regeneration, no tessellation, Morton vertex
dictionaries considered, AUTO integer encoding — plus the two advanced
switches ``--enable-fastpfor`` (PhysicalLevelTechnique.FAST_PFOR for 32-bit
integer streams) and ``--enable-fsst`` (FSST string-dictionary candidates).

Type inference mirrors ``MltConverter.createTilesetMetadata:35-116``:
properties are visited **sorted by key within each feature** and keep
first-seen column order across features (LinkedHashMap); MVT int/uint/sint
values are Java ``Long``s → INT_32 when the value fits a signed 32-bit int,
else INT_64, with the implicit INT_32→INT_64 and FLOAT→DOUBLE upgrades;
every property column is nullable. ``hasLongId`` follows the signed-long
reinterpretation of u64 ids (a uint64 id above 2^63 is a negative Java long
and therefore long-width).

Ground truth: the reference converter itself, compiled from the checked-in
Java sources (javac harness at /tmp/mltref — MltConverter + IntegerEncoder +
GeometryEncoder + StringEncoder + PropertyEncoder + curves, with minimal
shims for JTS/guava/commons; recipe in FIXTURES.md §CLI anchors). This
module is byte-identical to that harness on **all 131 encodable source MVT
fixtures × {varint, fsst} = 262 tiles** (sha256 anchors in
tests/data/cli_anchors.json; 3 amazon_here tiles throw in the reference too
— mixed-type properties without --coerce). The justfile's commented size
pins (67,516 / 66,523 B for omt 10_530_682, justfile:103-110) are STALE
relative to the current reference code, which produces 68,009 B varint for
that tile — exactly what this module produces. The FastPFOR physical level
cannot be byte-anchored offline (the me.lemire JavaFastPFOR jar is absent);
it is modeled on the library's public wire format, property-tested for
round-trip, and the advanced tiles self-decode (tests).
"""

from __future__ import annotations

import numpy as np

from maplibre_tile_spec_spark.functions import kernels as K
from maplibre_tile_spec_spark.functions import mlt_codec as C
from maplibre_tile_spec_spark.functions import mvt as M

_INT32_MIN, _INT32_MAX = -(2**31), 2**31 - 1


def _signed64(v: int) -> int:
    v &= 0xFFFFFFFFFFFFFFFF
    return v - 2**64 if v >= 2**63 else v


def _java_scalar_type(kind: str, value) -> str:
    """MltConverter.getScalarType over the Java MVT decoder's boxed types."""
    if kind == "bool":
        return "boolean"
    if kind in ("int", "uint", "sint"):
        v = _signed64(int(value)) if kind == "uint" else int(value)
        return "int32" if _INT32_MIN <= v <= _INT32_MAX else "int64"
    if kind == "float":
        return "float"
    if kind == "double":
        return "double"
    if kind == "string":
        return "string"
    raise ValueError(f"unsupported MVT value kind {kind!r}")


_UPGRADES = {
    ("int32", "int64"): "int64",
    ("int64", "int32"): "int64",
    ("float", "double"): "double",
    ("double", "float"): "double",
}


def _infer_columns(features: list[M.MvtFeature]) -> dict[str, str]:
    """First-seen (sorted-within-feature) property column order + types."""
    columns: dict[str, str] = {}
    for f in features:
        for k in sorted(f.properties):
            t = _java_scalar_type(f.prop_kinds.get(k, "string"), f.properties[k])
            prev = columns.get(k)
            if prev is None:
                columns[k] = t
            elif prev != t:
                up = _UPGRADES.get((prev, t))
                if up is None:
                    raise ValueError(f"property {k!r} has mismatched types {prev}/{t}")
                columns[k] = up
    return columns


def _ring_area(r: np.ndarray) -> float:
    x, y = r[:, 0].astype(float), r[:, 1].astype(float)
    return 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))


def _geometry_column(features: list[M.MvtFeature]) -> C.GeometryColumn:
    """MVT feature runs → ``mlt_codec.geometry_column``: a point feature's
    points become one run each, and polygon rings split into polygons by
    winding (a positive-area ring opens the next polygon) with a repeated
    closing vertex dropped."""
    out = []
    for f in features:
        if f.geom_type == 1:
            pts = [run[i : i + 1] for run in f.geometry for i in range(run.shape[0])]
            out.append((C.MLT_POINT, [pts]) if len(pts) == 1 else (C.MLT_MULTIPOINT, [[p] for p in pts]))
        elif f.geom_type == 2:
            t = C.MLT_LINESTRING if len(f.geometry) == 1 else C.MLT_MULTILINESTRING
            out.append((t, [[run] for run in f.geometry]))
        elif f.geom_type == 3:
            polys: list[list[np.ndarray]] = []
            for r in f.geometry:
                closed = r.shape[0] > 1 and np.array_equal(r[0], r[-1])
                rr = r[:-1] if closed else r
                if _ring_area(r) > 0 or not polys:
                    polys.append([rr])
                else:
                    polys[-1].append(rr)
            out.append((C.MLT_POLYGON if len(polys) == 1 else C.MLT_MULTIPOLYGON, polys))
        else:
            raise ValueError(f"unsupported MVT geometry type {f.geom_type}")
    return C.geometry_column(out)


def _prop_values(features: list[M.MvtFeature], name: str, col_type: str) -> list:
    """PropertyEncoder.get*PropertyValue: type-mismatched values are null."""
    out = []
    for f in features:
        v = f.properties.get(name)
        if v is None:
            out.append(None)
            continue
        kind = f.prop_kinds.get(name, "string")
        if col_type == "string":
            out.append(v if kind == "string" else None)
        elif col_type == "boolean":
            out.append(v if kind == "bool" else None)
        elif col_type == "int32":
            if kind in ("int", "uint", "sint"):
                sv = _signed64(int(v)) if kind == "uint" else int(v)
                out.append(sv if _INT32_MIN <= sv <= _INT32_MAX else None)
            else:
                out.append(None)
        elif col_type == "int64":
            if kind in ("int", "uint", "sint"):
                out.append(_signed64(int(v)) if kind == "uint" else int(v))
            else:
                out.append(None)
        elif col_type in ("float", "double"):
            out.append(float(v) if kind in ("float", "double") else None)
        else:
            raise ValueError(f"unsupported column type {col_type}")
    return out


def mvt_to_layers(
    mvt_bytes: bytes,
    include_ids: bool = True,
    use_fastpfor: bool = False,
    use_fsst: bool = False,
) -> list[C.LayerData]:
    """Decode an MVT and build per-layer ``LayerData`` under the CLI-default
    conversion config. Empty layers are skipped (convertMvt:428-429)."""
    plt = K.PLT_FASTPFOR if use_fastpfor else K.PLT_VARINT
    out = []
    for la in M.decode_mvt(mvt_bytes):
        if not la.features:
            continue
        columns = _infer_columns(la.features)
        ids = np.array([(f.id or 0) for f in la.features], dtype=np.uint64).astype(np.int64)
        has_long = any(
            not (_INT32_MIN <= _signed64(f.id or 0) <= _INT32_MAX) for f in la.features
        )
        props = [
            C.PropColumn(
                name, ctype, _prop_values(la.features, name, ctype), nullable=True, use_fsst=use_fsst
            )
            for name, ctype in columns.items()
        ]
        out.append(
            C.LayerData(
                name=la.name,
                extent=la.extent,
                geometry=_geometry_column(la.features),
                ids=ids if include_ids else None,
                has_long_ids=has_long,
                props=props,
                use_fsst=use_fsst,
                plt=plt,
                long_auto_rle=True,
            )
        )
    return out


def convert_mvt(
    mvt_bytes: bytes,
    include_ids: bool = True,
    use_fastpfor: bool = False,
    use_fsst: bool = False,
) -> bytes:
    """The CLI encode path: MVT bytes → MLT tile bytes (tag-0x01 framed
    layers with embedded metadata, exactly convertMvt's output)."""
    return C.encode_tile(
        mvt_to_layers(
            mvt_bytes, include_ids=include_ids, use_fastpfor=use_fastpfor, use_fsst=use_fsst
        )
    )
