"""Minimal Mapbox Vector Tile (MVT) decoder — protobuf wire format by hand.

Only what the parity oracle needs: layers → features (id, geometry type,
decoded geometry, properties). Spec: https://github.com/mapbox/vector-tile-spec
(public); reference usage java/.../converter/mvt/MvtUtils.java:19-83.
No protobuf library required — MVT uses only varint/length-delimited fields.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


def _varint(buf: memoryview, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _fields(buf: memoryview):
    """Iterate (field_number, wire_type, value) over a protobuf message."""
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = _varint(buf, pos)
        fn, wt = key >> 3, key & 7
        if wt == 0:
            v, pos = _varint(buf, pos)
            yield fn, wt, v
        elif wt == 2:
            ln, pos = _varint(buf, pos)
            yield fn, wt, buf[pos : pos + ln]
            pos += ln
        elif wt == 5:
            yield fn, wt, bytes(buf[pos : pos + 4])
            pos += 4
        elif wt == 1:
            yield fn, wt, bytes(buf[pos : pos + 8])
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wt}")


def _packed_varints(buf: memoryview) -> list[int]:
    out = []
    pos = 0
    while pos < len(buf):
        v, pos = _varint(buf, pos)
        out.append(v)
    return out


def _zigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


@dataclass
class MvtFeature:
    id: int | None
    geom_type: int  # 1=point 2=line 3=polygon (MVT codes)
    geometry: list[np.ndarray]  # list of vertex runs (MoveTo..LineTo seq), closed flag applied
    closed: list[bool]
    properties: dict
    # proto value kind per property: string|float|double|int|uint|sint|bool —
    # needed to reproduce the Java decoder's boxed types (Float vs Double vs
    # Long) for createTilesetMetadata-style type inference
    prop_kinds: dict = field(default_factory=dict)


@dataclass
class MvtLayer:
    name: str
    extent: int
    features: list[MvtFeature] = field(default_factory=list)


_VALUE_KINDS = {1: "string", 2: "float", 3: "double", 4: "int", 5: "uint", 6: "sint", 7: "bool"}


def _decode_value_kind(buf: memoryview):
    for fn, wt, v in _fields(buf):
        kind = _VALUE_KINDS.get(fn)
        if fn == 1:
            return bytes(v).decode("utf-8"), kind
        if fn == 2:
            return np.frombuffer(v, "<f4")[0].item(), kind
        if fn == 3:
            return np.frombuffer(v, "<f8")[0].item(), kind
        if fn == 4:  # int64
            return (v if v < 2**63 else v - 2**64), kind
        if fn == 5:  # uint64
            return v, kind
        if fn == 6:  # sint64
            return _zigzag(v), kind
        if fn == 7:
            return bool(v), kind
    return None, None


def _decode_geometry(commands: list[int]) -> tuple[list[np.ndarray], list[bool]]:
    runs: list[np.ndarray] = []
    closed: list[bool] = []
    x = y = 0
    i = 0
    cur: list[tuple[int, int]] = []
    while i < len(commands):
        cmd = commands[i]
        op, count = cmd & 7, cmd >> 3
        i += 1
        if op == 1:  # MoveTo
            for _ in range(count):
                if cur:
                    runs.append(np.array(cur))
                    closed.append(False)
                    cur = []
                x += _zigzag(commands[i])
                y += _zigzag(commands[i + 1])
                i += 2
                cur = [(x, y)]
        elif op == 2:  # LineTo
            for _ in range(count):
                x += _zigzag(commands[i])
                y += _zigzag(commands[i + 1])
                i += 2
                cur.append((x, y))
        elif op == 7:  # ClosePath
            runs.append(np.array(cur))
            closed.append(True)
            cur = []
        else:
            raise ValueError(f"unknown geometry op {op}")
    if cur:
        runs.append(np.array(cur))
        closed.append(False)
    return runs, closed


def decode_mvt(data: bytes) -> list[MvtLayer]:
    layers = []
    for fn, _wt, v in _fields(memoryview(data)):
        if fn != 3:
            continue
        name = ""
        extent = 4096
        keys: list[str] = []
        values: list = []
        raw_features = []
        for lf, _lw, lv in _fields(v):
            if lf == 1:
                name = bytes(lv).decode("utf-8")
            elif lf == 2:
                raw_features.append(lv)
            elif lf == 3:
                keys.append(bytes(lv).decode("utf-8"))
            elif lf == 4:
                values.append(_decode_value_kind(lv))
            elif lf == 5:
                extent = lv
        layer = MvtLayer(name, extent)
        for rf in raw_features:
            fid = None
            gtype = 0
            tags: list[int] = []
            cmds: list[int] = []
            for ff, fw, fv in _fields(rf):
                if ff == 1:
                    fid = fv
                elif ff == 2:
                    tags = _packed_varints(fv) if fw == 2 else tags + [fv]
                elif ff == 3:
                    gtype = fv
                elif ff == 4:
                    cmds = _packed_varints(fv) if fw == 2 else cmds + [fv]
            props = {keys[tags[i]]: values[tags[i + 1]][0] for i in range(0, len(tags), 2)}
            kinds = {keys[tags[i]]: values[tags[i + 1]][1] for i in range(0, len(tags), 2)}
            runs, closed = _decode_geometry(cmds)
            layer.features.append(MvtFeature(fid, gtype, runs, closed, props, kinds))
        layers.append(layer)
    return layers
