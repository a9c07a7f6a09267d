"""Distributed MVT→MLT-style tiling: documents → MLT tiles.

The reference encodes one tile per process iteration
(java/mlt-cli/.../Encode.java:538-560); here the same per-tile computation
runs in parallel across executors. Both tilers — ``encode_tiles`` (each
feature in the tile of its representative point) and
``encode_tiles_clipped`` (each feature clipped into every tile its bbox
touches) — own only their tile-assignment projection and their group
builder. Everything else is one pipeline, ``_assemble_tiles``: salt, a
sorted exchange on the group keys, one Arrow-batched ``mapInPandas`` kernel
that streams group after group (per-group ``applyInPandas`` dispatch cost 2×
on small-tile corpora), and a pinned merge.

**Adaptive salt fan-out for hot tiles**: each tile's salt count derives
from its own feature count (``n_salt="auto"``, the default — a cheap
pre-aggregate joined back), so dense urban tiles split into bounded
sub-groups, each encoded as an independent FeatureTable block and merged by
byte concatenation — valid because MLT tiles are defined as concatenations
of independently-decodable framed blocks (specification.md:38,92-99). AQE
splits only join/aggregate shuffles, never one oversized (x, y) group of
the encode exchange, so the salt is load-bearing at scale (SURVEY.md §7.3).

Feature ids follow the reference's sort-and-regenerate strategy
(MltConverter.java:548-611): features sorted by Hilbert index of their first
vertex, ids reassigned 0..n-1 in final order.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from maplibre_tile_spec_spark.functions import kernels as K
from maplibre_tile_spec_spark.functions import mlt_codec as C
from maplibre_tile_spec_spark.functions import tilemath as TM
from maplibre_tile_spec_spark.functions import wkt as W

TILE_SCHEMA = "x int, y int, n_features long, n_vertices long, part binary"


def _wkt_runs(gt: int, q: np.ndarray, structure: list[list[int]]) -> list[list[np.ndarray]]:
    """Split a parsed WKT's (n, 2) coordinates into ``parts[runs]``, the
    per-feature form ``mlt_codec.geometry_column`` takes: each polygon ring
    loses its closing vertex, each MULTIPOINT point is its own part."""
    polygonal = gt in (W.GT_POLYGON, W.GT_MULTIPOLYGON)
    parts, ci = [], 0
    for part in structure:
        runs = []
        for n in part:
            run = q[ci : ci + n]
            runs.append(run[:-1] if polygonal else run)
            ci += n
        parts.append(runs)
    return parts


def _features_to_geometry_column(
    wkts: list[str], tile_x: int, tile_y: int, zoom: int, extent: int
) -> tuple[C.GeometryColumn, np.ndarray]:
    """Parse + quantize a tile group's features into the SoA topology.

    All coordinates of the group are quantized in ONE vectorized pass
    (per-feature numpy-call overhead dominated the kernel before), then
    sliced back per feature. Returns (geometry column, hilbert sort order
    applied to the input).
    """
    if all(w.startswith("POINT") for w in wkts):
        return _points_to_geometry_column(wkts, tile_x, tile_y, zoom, extent)
    parsed = [W.parse_wkt(w) for w in wkts]
    # single quantization pass over every vertex of the group
    all_coords = np.vstack([p[1] for p in parsed])
    counts = np.array([p[1].shape[0] for p in parsed], dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    aqx, aqy = TM.np_quantize_to_extent(all_coords[:, 0], all_coords[:, 1], tile_x, tile_y, zoom, extent)
    # sort by hilbert index of the quantized first vertex (reference sort)
    order = np.argsort(K.hilbert_encode(aqx[starts], aqy[starts], order=12), kind="stable")
    q = np.column_stack([aqx, aqy])
    features = []
    for i in order:
        gt, _, structure = parsed[i]
        # WKT codes 1-6 → MLT ordinals 0-5
        features.append((gt - 1, _wkt_runs(gt, q[starts[i] : starts[i] + counts[i]], structure)))
    return C.geometry_column(features), order


def _points_to_geometry_column(
    wkts: list[str], tile_x: int, tile_y: int, zoom: int, extent: int
) -> tuple[C.GeometryColumn, np.ndarray]:
    """Fast path for all-POINT groups (the dominant class in event-derived
    feature tables): a slice+split loop replaces the per-feature WKT parser
    — same output; pandas str.extract spent ~0.8 ms of fixed regex setup
    per GROUP, which dominated at typical tile sizes (~100 features)."""
    n = len(wkts)
    lon = np.empty(n)
    lat = np.empty(n)
    for i, w in enumerate(wkts):
        toks = w[w.find("(") + 1 : w.rfind(")")].split()
        lon[i] = float(toks[0])
        lat[i] = float(toks[1])
    qx, qy = TM.np_quantize_to_extent(lon, lat, tile_x, tile_y, zoom, extent)
    order = np.argsort(K.hilbert_encode(qx, qy, order=12), kind="stable")
    verts = np.empty(lon.shape[0] * 2, dtype=np.int64)
    verts[0::2] = qx[order]
    verts[1::2] = qy[order]
    g = C.GeometryColumn(
        types=np.zeros(lon.shape[0], dtype=np.int64),  # MLT_POINT ordinal 0
        num_geometries=np.empty(0, np.int64),
        num_parts=np.empty(0, np.int64),
        num_rings=np.empty(0, np.int64),
        vertices=verts,
    )
    return g, order


# auto-salt: target features per encode group. A group at this size encodes
# in ~O(100 ms); tiles above it fan out into ceil(cnt/target) parts (capped)
DEFAULT_SALT_TARGET = 20_000
MAX_SALT = 256


def _with_salt(tiled: DataFrame, n_salt: int | str, salt_target: int) -> DataFrame:
    """Attach the hot-tile salt column.

    ``n_salt="auto"`` derives each tile's fan-out from its own feature count
    (one cheap map-side-combined pre-aggregate, joined back): salt_n =
    ceil(count / salt_target), capped at MAX_SALT. Dense urban tiles split
    into bounded groups while the long tail of small tiles keeps salt 1 and
    a byte-identical single-block tile. An integer keeps the old fixed
    fan-out; 1 disables salting."""
    if n_salt == "auto":
        counts = tiled.groupBy("x", "y").agg(F.count("*").alias("_cnt"))
        n_parts = F.greatest(
            F.lit(1), F.least(F.lit(MAX_SALT), F.ceil(F.col("_cnt") / F.lit(salt_target)))
        ).cast("int")
        return (
            tiled.join(counts, ["x", "y"])
            .withColumn(
                "salt", F.pmod(F.xxhash64("doc_id", "span_offset"), n_parts).cast("int")
            )
            .drop("_cnt")
        )
    if int(n_salt) > 1:
        return tiled.withColumn(
            "salt", F.pmod(F.xxhash64("doc_id", "span_offset"), F.lit(int(n_salt))).cast("int")
        )
    return tiled.withColumn("salt", F.lit(0))


def _iter_sorted_groups(
    batches: Iterator[pd.DataFrame], keys: tuple[str, ...] = ("x", "y", "salt")
) -> Iterator[tuple[tuple[int, ...], pd.DataFrame]]:
    """Stream (key, group) pairs from Arrow batches that arrive **sorted by
    ``keys``** (``sortWithinPartitions`` upstream). A group straddling a
    batch boundary is stitched from its pending chunks; peak memory is one
    group + one Arrow batch, not the whole partition — the JVM-side sort is
    an ExternalSorter (spills), so the Python worker never has to hold a
    partition-sized frame no matter the input size (ADVICE r3)."""
    pending: list[pd.DataFrame] = []
    pend_key: tuple[int, ...] | None = None

    def flush() -> pd.DataFrame:
        if len(pending) == 1:
            return pending[0].reset_index(drop=True)
        return pd.concat(pending, ignore_index=True)

    for pdf in batches:
        if pdf.empty:
            continue
        kmat = pdf[list(keys)].to_numpy()
        change = np.flatnonzero((kmat[1:] != kmat[:-1]).any(axis=1)) + 1
        starts = np.concatenate([[0], change])
        ends = np.concatenate([change, [len(pdf)]])
        for s, e in zip(starts, ends):
            key = tuple(int(v) for v in kmat[s])
            if pend_key is not None and key != pend_key:
                yield pend_key, flush()
                pending = []
            pend_key = key
            pending.append(pdf.iloc[s:e])
    if pending:
        yield pend_key, flush()


_ENCODE_FLUSH_ROWS = 256  # bound output-side buffering in the encode kernel


def _assemble_tiles(
    tiled: DataFrame,
    zoom: int,
    n_salt: int | str,
    salt_target: int,
    in_group_order: tuple[str, ...],
    build_group: Callable[[int, int, pd.DataFrame], tuple | None],
) -> DataFrame:
    """The one tile write path: ``tiled`` rows (x, y, doc_id, span_offset,
    …) → one row per tile (z, x, y, n_features, n_vertices, byte_size,
    tile). Salts hot tiles, sorts each (x, y, salt) group by
    ``in_group_order``, encodes it with ``build_group`` — one TILE_SCHEMA
    row, or None when no feature survives — and joins a tile's parts by
    byte concatenation."""
    tiled = _with_salt(tiled, n_salt, salt_target)
    # fine-grained explicit partitioning for the encode exchange: tile sizes
    # are Zipf-ish, so hashing groups into only `shuffle.partitions` buckets
    # leaves 2× shuffle-read skew between tasks and the slowest task sets
    # the stage wall (measured: 5.1-10.1 s task spread at 8 buckets). An
    # explicit 4×parallelism repartition on the group keys satisfies the
    # groupBy distribution (no extra exchange) and AQE leaves explicit-N
    # repartitions alone, so the skew averages out across many small tasks.
    fan = tiled.sparkSession.sparkContext.defaultParallelism * 4
    # sortWithinPartitions makes each (x, y, salt) group contiguous so the
    # kernel can stream one group at a time (memory = group, not partition).
    # The full in-group order is part of the SAME JVM-side spill-aware sort
    # — a per-group pandas sort_values was 2.1 s of the 5.6 s single-core
    # kernel at sf0.1 (categorical/lexsort overhead per group), vs ~free as
    # extra sort keys in the ExternalSorter
    tiled = tiled.repartition(fan, "x", "y", "salt").sortWithinPartitions(
        "x", "y", "salt", *in_group_order
    )

    def encode_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # whole-partition kernel, streamed group-at-a-time: Spark's
        # per-group applyInPandas pays Arrow serialization + UDF dispatch
        # per group, which dominates when tiles are small (measured 2× on a
        # 10k-tile corpus); the sorted exchange above delivers each
        # (x, y, salt) group contiguously so peak memory is one group
        cols = ["x", "y", "n_features", "n_vertices", "part"]
        rows = []
        for (x, y, _salt), grp in _iter_sorted_groups(batches):
            r = build_group(x, y, grp)
            if r is not None:
                rows.append(r)
            if len(rows) >= _ENCODE_FLUSH_ROWS:
                yield pd.DataFrame(rows, columns=cols)
                rows = []
        if rows:
            yield pd.DataFrame(rows, columns=cols)

    parts = tiled.mapInPandas(encode_partition, schema=TILE_SCHEMA)

    # pin the merge exchange to an explicit same-key repartition: the groupBy
    # needs this exchange anyway (no extra shuffle), but without the pin AQE
    # coalesces the small post-shuffle output to ONE partition — and every
    # downstream Python kernel (transcode, membership decode) then funnels
    # the whole tile table through a single Arrow task (measured: 1 task /
    # 1024 tiles; transcode 3.6 s → 2.5 s with the pin). Parallelism-derived,
    # not a constant, so it stays scale-adaptive.
    merge_fan = tiled.sparkSession.sparkContext.defaultParallelism
    return (
        parts.repartition(merge_fan, "x", "y")
        .groupBy("x", "y")
        .agg(
            F.sum("n_features").alias("n_features"),
            F.sum("n_vertices").alias("n_vertices"),
            F.aggregate(
                F.array_sort(F.collect_list(F.col("part"))),
                F.lit(b""),
                lambda acc, p: F.concat(acc, p),
            ).alias("tile"),
        )
        .select(
            F.lit(zoom).alias("z"),
            "x",
            "y",
            "n_features",
            "n_vertices",
            F.length("tile").cast("long").alias("byte_size"),
            "tile",
        )
    )


def encode_tiles(
    features: DataFrame,
    zoom: int,
    extent: int = 4096,
    layer_name: str = "features",
    layer_col: str | None = None,
    n_salt: int | str = "auto",
    salt_target: int = DEFAULT_SALT_TARGET,
    include_doc_refs: bool = False,
) -> DataFrame:
    """features (doc_id, span_offset, wkt, rep_lon, rep_lat[, layer]) → one
    row per tile: (z, x, y, n_features, n_vertices, byte_size, tile binary).

    With ``layer_col`` the kernel encodes one FeatureTable block per
    thematic layer inside each tile (the reference's per-layer loop,
    MltConverter.java:408-509); layer blocks concatenate like salted parts.
    ``n_salt="auto"`` (default) fans hot tiles out by their own feature
    count — see ``_with_salt``.
    """
    tiled = features.select(
        "doc_id",
        "span_offset",
        "wkt",
        (F.col(layer_col) if layer_col else F.lit(layer_name)).alias("_layer"),
        TM.lon_to_tile_x(F.col("rep_lon"), zoom).alias("x"),
        TM.lat_to_tile_y(F.col("rep_lat"), zoom).alias("y"),
    )

    def encode_group(x: int, y: int, pdf: pd.DataFrame) -> tuple:
        # rows arrive sorted by (_layer, doc_id, span_offset) — layer blocks
        # are contiguous slices; numpy boundary detection replaces a pandas
        # groupby (factorize/categorical machinery was ~0.6 s per sf0.1
        # corpus). JVM binary UTF-8 string order == Python str order for
        # the sort keys' comparison semantics here: block order must only
        # be deterministic and consistent with the salted-part merge, which
        # uses the same upstream sort.
        lname_arr = pdf["_layer"].to_numpy()
        bounds = np.concatenate(
            ([0], np.flatnonzero(lname_arr[1:] != lname_arr[:-1]) + 1, [len(pdf)])
        )
        part = b""
        n_vertices = 0
        for s, e in zip(bounds[:-1], bounds[1:]):
            grp = pdf.iloc[s:e]
            g, order = _features_to_geometry_column(grp["wkt"].tolist(), x, y, zoom, extent)
            props = []
            if include_doc_refs:
                docs = grp["doc_id"].to_numpy()[order].tolist()
                offs = [int(v) for v in grp["span_offset"].to_numpy()[order]]
                props = [
                    C.PropColumn("doc", "string", docs, nullable=True),
                    C.PropColumn("span", "int32", offs, nullable=False),
                ]
            layer = C.LayerData(
                name=str(lname_arr[s]),
                extent=extent,
                geometry=g,
                ids=np.arange(len(grp), dtype=np.int64),
                props=props,
            )
            part += C.encode_layer(layer)
            n_vertices += g.vertices.shape[0] // 2
        return (x, y, len(pdf), n_vertices, part)

    return _assemble_tiles(
        tiled, zoom, n_salt, salt_target, ("_layer", "doc_id", "span_offset"), encode_group
    )


def encode_tiles_clipped(
    features: DataFrame,
    zoom: int,
    extent: int = 4096,
    buffer: int = 64,
    layer_name: str = "features",
    n_salt: int | str = "auto",
    salt_target: int = DEFAULT_SALT_TARGET,
) -> DataFrame:
    """Spanning-feature tiler: every feature lands in every tile its bbox
    touches (declarative sequence-explode — no Python) and is geometrically
    clipped to that tile's buffered window inside the encode kernel
    (Sutherland–Hodgman / Liang–Barsky, functions/clip.py). The MVT-style
    ``buffer`` (extent units) lets renderers stitch seams."""
    from maplibre_tile_spec_spark.functions import clip as CL

    x_lo = TM.lon_to_tile_x(F.col("lon_min"), zoom)
    x_hi = TM.lon_to_tile_x(F.col("lon_max"), zoom)
    y_lo = TM.lat_to_tile_y(F.col("lat_max"), zoom)  # y grows southward
    y_hi = TM.lat_to_tile_y(F.col("lat_min"), zoom)
    tiled = (
        features.select(
            "doc_id",
            "span_offset",
            "wkt",
            F.explode(F.sequence(x_lo, x_hi)).alias("x"),
            y_lo.alias("_y0"),
            y_hi.alias("_y1"),
        )
        .select(
            "doc_id",
            "span_offset",
            "wkt",
            "x",
            F.explode(F.sequence(F.col("_y0"), F.col("_y1"))).alias("y"),
        )
    )

    lo, hi = float(-buffer), float(extent + buffer)

    def encode_group(x, y, pdf):
        def floor(pts: np.ndarray) -> np.ndarray:
            return np.floor(pts).astype(np.int64)

        features = []
        for gt, coords, structure in (W.parse_wkt(w) for w in pdf["wkt"]):
            q = np.column_stack(TM.np_extent_coords(coords[:, 0], coords[:, 1], x, y, zoom, extent))
            if gt in (W.GT_POINT, W.GT_MULTIPOINT):
                keep = floor(q[(q[:, 0] >= lo) & (q[:, 0] <= hi) & (q[:, 1] >= lo) & (q[:, 1] <= hi)])
                if keep.shape[0] == 1:
                    features.append((C.MLT_POINT, [[keep]]))
                elif keep.shape[0] > 1:
                    features.append((C.MLT_MULTIPOINT, [[keep[i : i + 1]] for i in range(keep.shape[0])]))
            elif gt in (W.GT_LINESTRING, W.GT_MULTILINESTRING):
                lines = [
                    floor(p)
                    for (run,) in _wkt_runs(gt, q, structure)
                    for p in CL.clip_line(run, lo, lo, hi, hi)
                    if p.shape[0] >= 2
                ]
                if lines:
                    t = C.MLT_LINESTRING if len(lines) == 1 else C.MLT_MULTILINESTRING
                    features.append((t, [[p] for p in lines]))
            else:  # polygon / multipolygon
                polys = []
                for rings in _wkt_runs(gt, q, structure):
                    clipped = [CL.clip_ring(r, lo, lo, hi, hi) for r in rings]
                    if clipped and clipped[0].shape[0] >= 3:  # outer ring gone ⇒ whole part gone
                        polys.append([floor(r) for r in clipped if r.shape[0] >= 3])
                if polys:
                    features.append((C.MLT_POLYGON if len(polys) == 1 else C.MLT_MULTIPOLYGON, polys))
        if not features:
            return None
        g = C.geometry_column(features)
        part = C.encode_layer(
            C.LayerData(name=layer_name, extent=extent, geometry=g, ids=np.arange(len(features), dtype=np.int64))
        )
        return (x, y, len(features), g.vertices.shape[0] // 2, part)

    return _assemble_tiles(tiled, zoom, n_salt, salt_target, ("doc_id", "span_offset"), encode_group)


def build_parent_tiles(tiles: DataFrame, extent: int = 4096) -> DataFrame:
    """One pyramid level up: merge each 2×2 block of child tiles into a
    parent tile — decode children, halve + offset coordinates into the
    parent's extent space, re-encode per layer. The tiling analog of a
    hypertable rollup: a single shuffle on the parent key, Arrow kernels do
    the geometry work. Apply iteratively for a full overview pyramid."""

    polygonal = (C.MLT_POLYGON, C.MLT_MULTIPOLYGON)

    def merge_group(key, pdf):
        pz, px, py = int(key[0]), int(key[1]), int(key[2])
        per_layer: dict[str, list] = {}
        for cx, cy, blob in zip(pdf["x"], pdf["y"], pdf["tile"]):
            offset = np.array([(int(cx) & 1) * extent // 2, (int(cy) & 1) * extent // 2])
            for la in C.decode_tile(bytes(blob)):
                g = la.geometry
                v = (g.vertices.reshape(-1, 2) // 2 + offset).ravel()
                halved = C.GeometryColumn(g.types, g.num_geometries, g.num_parts, g.num_rings, v)
                # geometry_to_features closes rings; geometry_column takes them open
                per_layer.setdefault(la.name, []).extend(
                    (t, [[r[:-1] for r in rings] for rings in parts] if t in polygonal else parts)
                    for t, parts in C.geometry_to_features(halved)
                )
        parts = b""
        n_feat = 0
        n_vert = 0
        for lname in sorted(per_layer):
            merged = C.geometry_column(per_layer[lname])
            n = merged.types.shape[0]
            parts += C.encode_layer(
                C.LayerData(lname, extent, merged, ids=np.arange(n, dtype=np.int64))
            )
            n_feat += n
            n_vert += merged.vertices.shape[0] // 2
        return pd.DataFrame(
            {
                "z": [pz],
                "x": [px],
                "y": [py],
                "n_features": [n_feat],
                "n_vertices": [n_vert],
                "part": [parts],
            }
        )

    parent = tiles.select(
        (F.col("z") - 1).cast("int").alias("pz"),
        F.shiftrightunsigned(F.col("x"), 1).cast("int").alias("px"),
        F.shiftrightunsigned(F.col("y"), 1).cast("int").alias("py"),
        "x",
        "y",
        "tile",
    )
    # the parent zoom comes from the group key — no driver-side action
    out = parent.groupBy("pz", "px", "py").applyInPandas(merge_group, schema="z int, " + TILE_SCHEMA)
    return out.select(
        "z",
        "x",
        "y",
        "n_features",
        "n_vertices",
        F.length("part").cast("long").alias("byte_size"),
        F.col("part").alias("tile"),
    )


def transcode_tiles(tiles: DataFrame, use_fsst: bool = True, fixture_rules: bool = False) -> DataFrame:
    """Distributed MLT→MLT transcode: decode each tile to values and
    re-encode (mlt_codec.reencode_tile) inside Arrow batches — the scale
    form of the whole-tile parity path (byte-exact on all 134 reference
    fixtures). Returns per-tile in/out sizes and an exactness flag, useful
    as a re-compression/validation pass over an existing tile table."""

    def tr(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for z, x, y, blob in zip(pdf["z"], pdf["x"], pdf["y"], pdf["tile"]):
                raw = bytes(blob)
                out = C.reencode_tile(raw, use_fsst=use_fsst, fixture_rules=fixture_rules)
                rows.append((int(z), int(x), int(y), len(raw), len(out), out == raw, out))
            yield pd.DataFrame(
                rows,
                columns=["z", "x", "y", "bytes_in", "bytes_out", "byte_exact", "tile"],
            )

    return tiles.mapInPandas(
        tr,
        schema="z int, x int, y int, bytes_in long, bytes_out long, byte_exact boolean, tile binary",
    )


def write_tiles(tiles: DataFrame, path: str, partition_by_zoom: bool = True) -> None:
    """Tile sink: parquet of (z,x,y,tile) — the distributed analog of the
    reference's MLT file sink (Encode.java:394-418)."""
    w = tiles.write.mode("overwrite")
    if partition_by_zoom:
        w = w.partitionBy("z")
    w.parquet(path)


def decode_tiles_membership(tiles: DataFrame) -> DataFrame:
    """Inverse operator for verification: decode every tile back to
    (z, x, y, feature_id, geom_type, n_vertices) rows via Arrow batches."""

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for z, x, y, blob in zip(pdf["z"], pdf["x"], pdf["y"], pdf["tile"]):
                for la in C.decode_tile(bytes(blob)):
                    feats = C.geometry_to_features(la.geometry)
                    for fid, (gt, parts) in zip(la.ids.tolist(), feats):
                        nv = sum(r.shape[0] for p in parts for r in p)
                        rows.append((int(z), int(x), int(y), int(fid), int(gt), int(nv)))
            yield pd.DataFrame(
                rows, columns=["z", "x", "y", "feature_id", "geom_type", "n_vertices"]
            )

    return tiles.mapInPandas(dec, schema="z int, x int, y int, feature_id long, geom_type int, n_vertices long")


def transcode_mvt_tiles(
    tiles: DataFrame, use_fastpfor: bool = False, use_fsst: bool = False
) -> DataFrame:
    """Distributed MVT→MLT transcode under the reference CLI's default
    config (functions/mlt_cli.py — byte-exact vs the compiled reference
    converter, FIXTURES.md §8). Input: (z, x, y, tile) with MVT bytes, e.g.
    from sources.mbtiles.read_mbtiles; output adds before/after sizes so a
    compression report is one aggregate away. Embarrassingly parallel — one
    Arrow batch of tiles per task, no shuffle."""
    from maplibre_tile_spec_spark.functions import mlt_cli as CLI

    def tc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for z, x, y, blob in zip(pdf["z"], pdf["x"], pdf["y"], pdf["tile"]):
                mvt = bytes(blob)
                # per-tile error row instead of killing the job: the
                # reference converter itself rejects some real tiles
                # (mixed-type properties without --coerce), and at corpus
                # scale one such tile must not abort the whole transcode
                try:
                    mlt = CLI.convert_mvt(mvt, use_fastpfor=use_fastpfor, use_fsst=use_fsst)
                    rows.append((int(z), int(x), int(y), len(mvt), len(mlt), mlt, None))
                except (ValueError, NotImplementedError) as e:
                    rows.append((int(z), int(x), int(y), len(mvt), None, None, str(e)))
            yield pd.DataFrame(
                rows, columns=["z", "x", "y", "mvt_bytes", "mlt_bytes", "tile", "error"]
            )

    return tiles.mapInPandas(
        tc,
        schema=(
            "z int, x int, y int, mvt_bytes long, mlt_bytes long, "
            "tile binary, error string"
        ),
    )
