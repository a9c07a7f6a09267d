"""The north-star spatial joins: point-in-polygon, kNN, raster↔vector.

All three are expressed Spark-first:

* **PIP** — polygon grid-cell cover (quadtree analog of an H3
  ``polygon_to_cells`` cover) ⋈ point cells as per-level *broadcast* equi-
  joins, then an exact vectorized ray-cast refine in one ``mapInPandas``
  (bounded Arrow batches ⇒ no giant-group skew; a hot polygon's candidates
  spread across many batches).
* **kNN** — grid-cell ring expansion: points bucketed once, queries explode
  to a (2r+1)² neighbor ring, equi-join, windowed top-k, then a provably
  sufficient distance bound decides which queries are done; the rare
  unresolved remainder falls back to an exact broadcast pass. This is the
  S2 cell-ring expansion of BASELINE.json in quadtree coordinates.
* **raster↔vector** — the quadkey range join [qk_min, qk_max) is linearized
  into an ancestor equi-join (a pyramid tile's numeric-quadkey range is
  exactly its subtree), so Catalyst runs a hash join instead of a
  nested-loop range join; a literal range-join variant is provided for
  irregular ranges.

Reference anchors: Morton/quadkey math java/.../converter/geometry/
ZOrderCurve.java:9-47; the reference itself has no joins (SURVEY.md §2.3) —
these are the BASELINE.json north-star operators.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from maplibre_tile_spec_spark.functions import geom as G
from maplibre_tile_spec_spark.functions import tilemath as TM
from maplibre_tile_spec_spark.functions import wkt as W
from maplibre_tile_spec_spark.session import scoped_materialize

EARTH_CIRCUMFERENCE_KM = 40075.017


# ---------------------------------------------------------------------------
# point-in-polygon
# ---------------------------------------------------------------------------

PIP_COVER_SCHEMA = "poly_id string, level int, cx int, cy int"

#: cover defaults shared by ``polygon_cover`` and both ``pip_join`` branches
PIP_COVER_MAX_CELLS = 64
PIP_COVER_COMPACT = True


def _cover_rows(
    poly_id: str, wkt: str, lv: list[int], lv_set: set[int], max_cells: int, compact: bool
) -> list[tuple]:
    """Cover cells for one polygon — shared by the distributed
    ``polygon_cover`` kernel and the driver-side cover of ``pip_join``'s
    broadcast branch so both paths emit identical rows."""
    x0, y0, x1, y1 = W.wkt_bbox(wkt)
    raw = G.adaptive_cover_level(x0, y0, x1, y1, max_cells=max_cells, max_level=lv[-1])
    level = max([l for l in lv if l <= raw], default=lv[0])
    cells = [(level, cx, cy) for cx, cy in G.bbox_cover_cells(x0, y0, x1, y1, level)]
    if compact:
        cells = G.compact_cells(cells, lv_set)
    return [(poly_id, clevel, cx, cy) for clevel, cx, cy in cells]


def polygon_cover(
    polys: DataFrame,
    levels: tuple[int, ...] = (4, 6, 8, 10, 12),
    max_cells: int = PIP_COVER_MAX_CELLS,
    compact: bool = PIP_COVER_COMPACT,
) -> DataFrame:
    """(poly_id, level, cx, cy) bbox-cover cells, each polygon at the finest
    allowed level whose cover stays ≤ max_cells (snapped down to ``levels``).
    ``compact`` merges complete sibling blocks up (H3-compact analog),
    shrinking the broadcast side for large polygons."""
    lv = sorted(levels)
    lv_set = set(lv)

    def cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for poly_id, wkt in zip(pdf["poly_id"], pdf["geom_wkt"]):
                rows.extend(_cover_rows(poly_id, wkt, lv, lv_set, max_cells, compact))
            yield pd.DataFrame(rows, columns=["poly_id", "level", "cx", "cy"])

    return polys.mapInPandas(cover, schema=PIP_COVER_SCHEMA)


#: polygon-count cutoff for the auto broadcast/co-located dispatch in
#: :func:`pip_join`. 50k polygons × ~1 KiB parsed rings ≈ 50 MiB broadcast —
#: comfortably under a 1 GiB driver heap slice; anything larger takes the
#: join-side refine path that never collects geometry to the driver.
PIP_BROADCAST_MAX_POLYS = 50_000

#: probe-verdict memo keyed by (SparkSession, polygon plan ``semanticHash()``)
#: so iterative callers (e.g. a pipeline invoking :func:`pip_join` per batch
#: on the same polygon table) pay the bounded probe job once, not per call
#: (ADVICE r4). ``semanticHash`` hashes the PLAN, not the data, so a
#: broadcast=True verdict is re-probed after :data:`PIP_PROBE_TTL_CALLS`
#: reuses — a polygon source that grows past the cutoff under the same plan
#: (e.g. a streaming-updated table) regains the co-located path within a
#: bounded number of calls instead of keeping a stale broadcast verdict
#: forever (ADVICE r5). broadcast=False verdicts are kept indefinitely:
#: the co-located path is safe at every size, never driver-OOM. Bounded;
#: cleared wholesale if it ever grows past 256 plans.
_PIP_PROBE_CACHE: dict[tuple[int, int, int], list] = {}

#: number of cache hits a broadcast=True probe verdict serves before the
#: probe re-runs (data-freshness guard for growing polygon sources).
PIP_PROBE_TTL_CALLS = 16


def pip_join(
    points: DataFrame,
    polys: DataFrame,
    id_col: str = "pid",
    id_type: str = "string",
    levels: tuple[int, ...] = (4, 6, 8, 10, 12),
    broadcast_polys: bool | str = "auto",
) -> DataFrame:
    """Exact point-in-polygon join → (id_col, poly_id).

    points: (id_col, lon, lat); polys: (poly_id, geom_wkt).
    Candidate generation is per-level equi-joins on grid cells (broadcast
    when the polygon side is dimension-sized); refinement is an exact
    ray-cast over Arrow batches, each polygon parsed once per batch.

    ``broadcast_polys`` dispatch is **data-driven by default** ("auto"): a
    cheap ``limit(threshold+1).count()`` probe (bounded work — Spark stops
    scanning at threshold+1 rows, no full count) decides whether the polygon
    side is dimension-sized. Small → driver-parsed broadcast rings; large →
    co-located join + per-batch parse, so a 100-TB polygon side can never
    OOM the driver via a forgotten flag. Pass True/False to force a branch.

    The probe is **eager** (one extra Spark job at plan-construction time)
    but memoized per (session, polygon plan); a True/False hint skips it
    entirely — no job runs before the returned DataFrame is acted on.
    Because ``semanticHash`` keys the plan rather than the data, a cached
    broadcast=True verdict expires after :data:`PIP_PROBE_TTL_CALLS` reuses
    so a growing polygon source re-probes within a bounded number of calls
    (stale-broadcast exposure is at most TTL batches, not forever).
    """
    if broadcast_polys == "auto":
        key = (id(polys.sparkSession), polys.semanticHash(), PIP_BROADCAST_MAX_POLYS)
        entry = _PIP_PROBE_CACHE.get(key)
        # a True verdict expires after PIP_PROBE_TTL_CALLS hits: semanticHash
        # keys the plan, not the data, and a source grown past the cutoff
        # must fall back to the co-located path (False verdicts never expire
        # — that path is size-safe)
        if entry is not None and entry[0] and entry[1] >= PIP_PROBE_TTL_CALLS:
            entry = None
        if entry is None:
            probe = polys.limit(PIP_BROADCAST_MAX_POLYS + 1).count()
            entry = [probe <= PIP_BROADCAST_MAX_POLYS, 0]
            if len(_PIP_PROBE_CACHE) >= 256:
                _PIP_PROBE_CACHE.clear()
            _PIP_PROBE_CACHE[key] = entry
        entry[1] += 1
        broadcast_polys = entry[0]
    if broadcast_polys:
        # dimension-sized polygon side: ONE driver collect serves both the
        # pre-parsed ring broadcast (below) and a driver-computed cover —
        # identical rows to the distributed kernel via _cover_rows — so the
        # candidate-generation job carries no Python stage at all (the
        # mapInPandas cover cost a worker round-trip inside the broadcast
        # exchange). The co-located branch keeps the distributed kernel.
        poly_rows = polys.select("poly_id", "geom_wkt").collect()
        lv0 = sorted(levels)
        cover_cells = []
        for r in poly_rows:
            cover_cells.extend(
                _cover_rows(
                    r["poly_id"], r["geom_wkt"], lv0, set(lv0), PIP_COVER_MAX_CELLS, PIP_COVER_COMPACT
                )
            )
        cover = F.broadcast(
            polys.sparkSession.createDataFrame(cover_cells, PIP_COVER_SCHEMA)
        )
    else:
        cover = polygon_cover(
            polys, levels=levels, max_cells=PIP_COVER_MAX_CELLS, compact=PIP_COVER_COMPACT
        )

    # one scan, one hash join: compute the finest-level cell once, derive each
    # coarser level's cell by a right-shift, explode (level, cx, cy) structs
    lv = sorted(set(levels))
    finest = lv[-1]
    px = TM.lon_to_tile_x(F.col("lon"), finest)
    py = TM.lat_to_tile_y(F.col("lat"), finest)
    cells = F.array(
        *[
            F.struct(
                F.lit(level).alias("level"),
                F.shiftrightunsigned(px, finest - level).cast("int").alias("cx"),
                F.shiftrightunsigned(py, finest - level).cast("int").alias("cy"),
            )
            for level in lv
        ]
    )
    pc = points.select(F.col(id_col), "lon", "lat", F.explode(cells).alias("c")).select(
        id_col, "lon", "lat", F.col("c.level").alias("level"), F.col("c.cx").alias("cx"), F.col("c.cy").alias("cy")
    )
    candidates = pc.join(cover, ["level", "cx", "cy"], "inner").select(id_col, "lon", "lat", "poly_id")

    refine_schema = f"{id_col} {id_type}, poly_id string"

    def _rings_of(wkt: str) -> list[np.ndarray]:
        _, coords, structure = W.parse_wkt(wkt)
        rings, i = [], 0
        for part in structure:
            for n in part:
                rings.append(coords[i : i + n])
                i += n
        return rings

    if broadcast_polys:
        # dimension-sized polygon side: ship pre-parsed rings as a broadcast
        # variable instead of joining WKT strings onto every candidate row
        # (poly_rows collected once above, shared with the cover)
        ring_map = {r["poly_id"]: _rings_of(r["geom_wkt"]) for r in poly_rows}
        bc = points.sparkSession.sparkContext.broadcast(ring_map)

        def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            rings_by_id = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                keep_idx: list[np.ndarray] = []
                for poly_id, grp in pdf.groupby("poly_id", sort=False):
                    inside = G.points_in_polygon(
                        grp["lon"].to_numpy(), grp["lat"].to_numpy(), rings_by_id[poly_id]
                    )
                    keep_idx.append(grp.index.to_numpy()[inside])
                keep = np.concatenate(keep_idx) if keep_idx else np.array([], dtype=np.int64)
                yield pdf.loc[keep, [id_col, "poly_id"]]

        return candidates.mapInPandas(refine, schema=refine_schema)

    # large polygon side: co-locate candidates with geometries via join
    cand = candidates.join(polys, "poly_id", "inner")

    def refine_join(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            keep_idx: list[np.ndarray] = []
            for wkt, grp in pdf.groupby("geom_wkt", sort=False):
                inside = G.points_in_polygon(grp["lon"].to_numpy(), grp["lat"].to_numpy(), _rings_of(wkt))
                keep_idx.append(grp.index.to_numpy()[inside])
            keep = np.concatenate(keep_idx) if keep_idx else np.array([], dtype=np.int64)
            yield pdf.loc[keep, [id_col, "poly_id"]]

    return cand.mapInPandas(refine_join, schema=refine_schema)


# ---------------------------------------------------------------------------
# kNN
# ---------------------------------------------------------------------------


def _knn_ring_pass(
    queries: DataFrame,
    pts: DataFrame,
    level: int,
    ring: int,
    k_col: str,
    qid_col: str,
    pid_col: str,
) -> tuple[DataFrame, DataFrame]:
    """One cell-ring candidate pass → (resolved top-k rows, resolved qids).

    A query is *resolved* iff it found ≥ k candidates and its kth distance
    < ring × min_cell_size_km — every unsearched point is provably farther.
    Mercator cells are locally square (size ≈ C·cos(lat)/2^level) but shrink
    poleward, so the bound uses cos at the **poleward boundary of the
    searched window** (tile rows qcy−ring … qcy+ring), not the query
    latitude: the meridional ground distance from the query to the window
    edge is ≥ ring × the smallest cell height inside the window, and the
    zonal distance at the query's own latitude is ≥ the same (cos(lat_q) ≥
    cos(lat_edge)). Using cos(lat_q) alone would over-resolve queries whose
    true kth neighbor hides just beyond the poleward ring (~8% at lat 49).
    """
    n = 2**level
    offs = F.sequence(F.lit(-ring), F.lit(ring))
    q = queries.select(
        qid_col,
        "lon",
        "lat",
        k_col,
        TM.lon_to_tile_x(F.col("lon"), level).alias("qcx"),
        TM.lat_to_tile_y(F.col("lat"), level).alias("qcy"),
    )
    qcells = (
        q.withColumn("dx", F.explode(offs))
        .withColumn("dy", F.explode(offs))
        .select(
            qid_col,
            "lon",
            "lat",
            k_col,
            F.pmod(F.col("qcx") + F.col("dx"), F.lit(n)).cast("int").alias("cx"),
            (F.col("qcy") + F.col("dy")).cast("int").alias("cy"),
        )
        .filter((F.col("cy") >= 0) & (F.col("cy") < n))
    )
    cand = qcells.join(pts, ["cx", "cy"], "inner").select(
        qid_col,
        k_col,
        "lon",
        "lat",
        pid_col,
        G.haversine_km(F.col("lon"), F.col("lat"), F.col("p_lon"), F.col("p_lat")).alias("dist_km"),
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("dist_km").asc(), F.col(pid_col).asc())
    # persisted: referenced by the resolved branch and the resolution check.
    # knn_join releases the handle after materializing its final result, so
    # nothing input-sized stays pinned across the caller's session.
    topk = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col(k_col))
        .persist()
    )
    per_q = topk.groupBy(qid_col).agg(
        F.max("rank").alias("found"),
        F.max("dist_km").alias("kth_dist"),
        F.first(k_col).alias("_k"),
        F.first("lat").alias("_lat"),
    )
    qcy = TM.lat_to_tile_y(F.col("_lat"), level)
    lat_north = TM.tile_to_lat(F.greatest(F.lit(0), qcy - F.lit(ring)), level)
    lat_south = TM.tile_to_lat(F.least(F.lit(n), qcy + F.lit(ring + 1)), level)
    cos_edge = F.least(F.cos(F.radians(lat_north)), F.cos(F.radians(lat_south)))
    resolved_ids = per_q.filter(
        (F.col("found") >= F.col("_k"))
        & (
            F.col("kth_dist")
            < F.lit(float(ring)) * (F.lit(EARTH_CIRCUMFERENCE_KM) * cos_edge / F.lit(float(n)))
        )
    ).select(qid_col)
    resolved = topk.join(F.broadcast(resolved_ids), qid_col, "left_semi")
    return resolved, resolved_ids, topk


# ring passes before the broadcast fallback, and the ring's growth per pass
KNN_PASSES = 2
KNN_RING_GROWTH = 4


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k_col: str = "k",
    level: int = 7,
    ring: int = 2,
    qid_col: str = "qid",
    pid_col: str = "pid",
) -> DataFrame:
    """Exact k-nearest-neighbors → (qid, pid, dist_km, rank).

    queries: (qid, lon, lat, k); points: (pid, lon, lat).

    Iterative cell-ring expansion (the S2 ring-expansion pattern in
    quadtree coordinates): pass p searches ring·KNN_RING_GROWTH^p cells;
    queries whose kth distance is provably final drop out; the rare
    remainder after KNN_PASSES passes takes an exact broadcast pass. All
    passes are pure DataFrame ops over the same bucketed points.
    """
    pts = points.select(
        F.col(pid_col),
        F.col("lon").alias("p_lon"),
        F.col("lat").alias("p_lat"),
        TM.lon_to_tile_x(F.col("lon"), level).alias("cx"),
        TM.lat_to_tile_y(F.col("lat"), level).alias("cy"),
    )
    remaining = queries
    resolved_parts: list[DataFrame] = []
    cached_passes: list[DataFrame] = []
    r = ring
    all_resolved = False
    for _ in range(KNN_PASSES):
        resolved, resolved_ids, topk = _knn_ring_pass(remaining, pts, level, r, k_col, qid_col, pid_col)
        resolved_parts.append(resolved.select(qid_col, pid_col, "dist_km", "rank"))
        cached_passes.append(topk)
        remaining = remaining.join(F.broadcast(resolved_ids), qid_col, "left_anti")
        r *= KNN_RING_GROWTH
        # bounded early-exit probe: when a pass resolves every query (the
        # common case — the ring bound is designed to), the later passes and
        # the broadcast fallback would still submit their full job chains
        # over empty inputs, ~1 s of pure scheduling at bench scale. The
        # probe reuses the pass's persisted topk (limit(1) stops at the
        # first surviving row) and the skipped branches contribute no rows,
        # so the result set is identical either way.
        if remaining.limit(1).count() == 0:
            all_resolved = True
            break

    # exact fallback: broadcast the (rare) still-unresolved queries.
    # observe() rides the final action so callers can audit the remainder
    # size (Observation "knn_fallback", metric n_unresolved) — if the ring
    # bound ever stops resolving ~all queries, this surfaces it without an
    # extra job; the broadcast itself hard-fails long before the fallback
    # could silently become a full cartesian.
    if all_resolved:
        out = resolved_parts[0]
        for part in resolved_parts[1:]:
            out = out.unionByName(part)
    else:
        w = Window.partitionBy(qid_col).orderBy(F.col("dist_km").asc(), F.col(pid_col).asc())
        from pyspark.sql import Observation

        remaining = remaining.observe(
            Observation("knn_fallback"), F.count(F.lit(1)).alias("n_unresolved")
        )
        fb_cand = points.select(
            F.col(pid_col), F.col("lon").alias("p_lon"), F.col("lat").alias("p_lat")
        ).crossJoin(F.broadcast(remaining.select(qid_col, "lon", "lat", k_col)))
        fb = (
            fb_cand.select(
                qid_col,
                k_col,
                pid_col,
                G.haversine_km(F.col("lon"), F.col("lat"), F.col("p_lon"), F.col("p_lat")).alias("dist_km"),
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= F.col(k_col))
            .select(qid_col, pid_col, "dist_km", "rank")
        )
        out = fb
        for part in resolved_parts:
            out = out.unionByName(part)
    # materialize once through the per-pass caches, then release them:
    # the returned result stays persisted (output-sized, lineage intact),
    # nothing input-sized is pinned across the caller's session
    return scoped_materialize(out, *cached_passes)


# ---------------------------------------------------------------------------
# raster ↔ vector quadkey join
# ---------------------------------------------------------------------------


def quadkey_ancestor_join(
    points: DataFrame, raster: DataFrame, max_z: int, id_col: str = "pid"
) -> DataFrame:
    """Assign each point to every raster pyramid tile containing it.

    Semantically the quadkey range join of FIXTURES.md §5 — point's max-zoom
    quadkey ∈ [qk_min, qk_max) — but linearized into an **equi-join** on
    (z, x, y) by exploding each point into its max_z+1 ancestor tiles
    (integer right-shifts). Hash join + AQE instead of a nested-loop range
    join; at 100 TB this is the difference between feasible and not.
    """
    xz = TM.lon_to_tile_x(F.col("lon"), max_z)
    yz = TM.lat_to_tile_y(F.col("lat"), max_z)
    ancestors = F.array(
        *[
            F.struct(
                F.lit(z).alias("z"),
                F.shiftrightunsigned(xz, max_z - z).cast("int").alias("x"),
                F.shiftrightunsigned(yz, max_z - z).cast("int").alias("y"),
            )
            for z in range(max_z + 1)
        ]
    )
    pts = points.select(F.col(id_col), F.explode(ancestors).alias("a")).select(
        id_col, F.col("a.z").alias("z"), F.col("a.x").alias("x"), F.col("a.y").alias("y")
    )
    return pts.join(raster, ["z", "x", "y"], "inner")


def quadkey_range_join(points: DataFrame, raster: DataFrame, max_zoom: int = TM.MAX_ZOOM, id_col: str = "pid") -> DataFrame:
    """Literal range-join variant for irregular [qk_min, qk_max) sets.

    Kept for generality; prefer quadkey_ancestor_join for pyramid rasters.
    """
    qk = TM.quadkey_num(
        TM.lon_to_tile_x(F.col("lon"), max_zoom), TM.lat_to_tile_y(F.col("lat"), max_zoom), max_zoom
    )
    pts = points.select(F.col(id_col), qk.alias("qk"))
    return pts.join(raster, (F.col("qk") >= F.col("qk_min")) & (F.col("qk") < F.col("qk_max")))
