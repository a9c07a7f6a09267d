"""Kernel throughputs without Spark, on a layer generated from the seed.

The layer mixes points, lines and polygons with holes in tile-extent
coordinates, plus a repetitive string column and an integer column. Each
kernel is timed over repeated calls and its output is checked: the codec
round-trips the geometry, FSST decodes back to its input, the WKT parser
returns the generated coordinates, and earcut's triangles cover each polygon
minus its holes.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

N_FEATURES = 2_000
EXTENT = 4096
#: minimum timed time per kernel; at least MIN_REPS calls are timed
KERNEL_SECONDS = 0.4
MIN_REPS = 3

_NAMES = "main high park river north south lake hill market station road avenue".split()


def synthetic_layer(seed: int) -> dict:
    """Seeded features as WKT (with the coordinates it spells, rings
    closed), as the codec's geometry topology, and as earcut input."""
    rng = np.random.default_rng(seed)
    kinds = rng.choice(3, N_FEATURES, p=[0.4, 0.3, 0.3])
    types, num_parts, num_rings, verts = [], [], [], []
    wkts, coords, polygons = [], [], []

    def fmt(ring: np.ndarray) -> str:
        return ", ".join(f"{x} {y}" for x, y in ring)

    for k in kinds:
        cx, cy = rng.integers(256, EXTENT - 256, 2)
        if k == 0:
            pts = np.array([[cx, cy]])
            types.append(0)
            wkts.append(f"POINT ({cx} {cy})")
        elif k == 1:
            n = int(rng.integers(2, 30))
            pts = np.cumsum(rng.integers(-20, 21, (n, 2)), axis=0) + [cx, cy]
            types.append(1)
            num_rings.append(n)  # line vertex counts go to rings when polygons are present
            wkts.append(f"LINESTRING ({fmt(pts)})")
        else:
            n_holes = int(rng.integers(0, 3))
            n = int(rng.integers(8, 40))
            r = int(rng.integers(60, 200))
            theta = np.linspace(0, 2 * np.pi, n, endpoint=False)
            rings = [np.stack([cx + r * np.cos(theta), cy + r * np.sin(theta)], 1).astype(np.int64)]
            for h in range(n_holes):
                hx = cx + (h * 2 - 1) * r // 3
                hr = r // 5
                ht = -np.linspace(0, 2 * np.pi, 6, endpoint=False)  # holes wind opposite
                rings.append(np.stack([hx + hr * np.cos(ht), cy + hr * np.sin(ht)], 1).astype(np.int64))
            types.append(2)
            num_parts.append(len(rings))
            num_rings.extend(len(ring) for ring in rings)
            pts = np.vstack(rings)
            polygons.append(rings)
            closed = ", ".join(f"({fmt(np.vstack([ring, ring[:1]]))})" for ring in rings)
            wkts.append(f"POLYGON ({closed})")
        verts.append(pts.reshape(-1))
        coords.append(np.vstack([np.vstack([ring, ring[:1]]) for ring in rings]) if k == 2 else pts)
    names = [
        None if rng.random() < 0.1 else f"{_NAMES[a]} {_NAMES[b]} {int(c)}"
        for a, b, c in zip(rng.integers(0, 12, N_FEATURES), rng.integers(0, 12, N_FEATURES), rng.integers(0, 50, N_FEATURES))
    ]
    return {
        "wkts": wkts,
        "coords": coords,
        "polygons": polygons,
        "names": names,
        "ranks": rng.integers(0, 1000, N_FEATURES).tolist(),
        "topology": (
            np.array(types, np.int64),
            np.array(num_parts, np.int64),
            np.array(num_rings, np.int64),
            np.concatenate(verts).astype(np.int64),
        ),
    }


def _ring_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0].astype(float), ring[:, 1].astype(float)
    return abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) / 2


def _polygon_area(rings: list[np.ndarray]) -> float:
    return _ring_area(rings[0]) - sum(_ring_area(r) for r in rings[1:])


def _triangle_area(indices: list[int], data: list[float]) -> float:
    xy = np.asarray(data).reshape(-1, 2)[np.asarray(indices, dtype=np.int64).reshape(-1, 3)]
    a, b, c = xy[:, 0], xy[:, 1], xy[:, 2]
    return float(np.abs(np.cross(b - a, c - a)).sum() / 2)


def _timed(fn) -> float:
    """Median seconds per call of ``fn`` over at least MIN_REPS calls."""
    times = []
    start = time.perf_counter()
    while len(times) < MIN_REPS or time.perf_counter() - start < KERNEL_SECONDS:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def measure(seed: int) -> tuple[dict[str, float], int, int]:
    """→ (metrics, checks attempted, checks failed)."""
    from maplibre_tile_spec_spark.functions import earcut as E
    from maplibre_tile_spec_spark.functions import mlt_codec as C
    from maplibre_tile_spec_spark.functions import wkt as W

    lay = synthetic_layer(seed)
    types, num_parts, num_rings, verts = lay["topology"]
    layer = C.LayerData(
        name="bench",
        extent=EXTENT,
        geometry=C.GeometryColumn(types, np.empty(0, np.int64), num_parts, num_rings, verts),
        ids=np.arange(N_FEATURES, dtype=np.int64),
        props=[
            C.PropColumn("name", "string", lay["names"], nullable=True, use_fsst=True),
            C.PropColumn("rank", "int32", lay["ranks"], nullable=False),
        ],
    )
    corpus = "\n".join(n for n in lay["names"] if n).encode()
    earcut_input = []
    for rings in lay["polygons"]:
        holes, n = [], 0
        for ring in rings[:-1]:
            n += len(ring)
            holes.append(n)
        earcut_input.append((np.vstack(rings).astype(float).reshape(-1).tolist(), holes, n + len(rings[-1])))

    failed = 0
    tile = C.encode_tile([layer])
    dec = C.decode_tile(tile)[0]
    failed += not (
        np.array_equal(dec.geometry.vertices, verts)
        and np.array_equal(dec.geometry.types, types)
        and dec.props["name"] == lay["names"]
    )
    table, lens, comp = C.fsst_encode(corpus)
    failed += C.fsst_decode(table, lens, comp) != corpus
    parsed = [W.parse_wkt(w)[1] for w in lay["wkts"]]
    failed += not all(np.array_equal(p, c) for p, c in zip(parsed, lay["coords"]))
    # the triangles of each polygon cover exactly its area minus its holes
    failed += not all(
        np.isclose(_triangle_area(E.earcut(data, holes), data), _polygon_area(rings))
        for (data, holes, _), rings in zip(earcut_input, lay["polygons"])
    )

    n_vertices = sum(n for _, _, n in earcut_input)
    mb = 1e6
    metrics = {
        "mlt_codec.encode_mb_per_s": len(tile) / mb / _timed(lambda: C.encode_tile([layer])),
        "mlt_codec.decode_mb_per_s": len(tile) / mb / _timed(lambda: C.decode_tile(tile)),
        "wkt.parse_features_per_s": N_FEATURES / _timed(lambda: [W.parse_wkt(w) for w in lay["wkts"]]),
        "fsst.encode_mb_per_s": len(corpus) / mb / _timed(lambda: C.fsst_encode(corpus)),
        "earcut.vertices_per_s": n_vertices
        / _timed(lambda: [E.earcut(data, holes) for data, holes, _ in earcut_input]),
    }
    return metrics, 4, int(failed)
