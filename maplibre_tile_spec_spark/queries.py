"""Oracle-checked query registry (the driver-contract surface).

Every entry pairs a Spark DataFrame plan with a semantically identical
DuckDB SQL string over the same parquet tables. The pairs are engineered
for *exact* value-hash equality:

* shared derivations (synthetic lon/lat from integer keys) use only integer
  arithmetic and IEEE-exact double ops, written identically on both sides;
* fp-sum aggregates are converted to exact integer (cents) sums;
* every output column is explicitly cast to a stable type and identically
  aliased on both sides (the driver sorts columns by name before hashing);
* rank orderings always carry a deterministic integer tie-break.

Spatial queries use fixed literal polygon/query-point sets (module
constants) so the DuckDB oracle can embed them as VALUES lists.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from maplibre_tile_spec_spark.functions import geom as G
from maplibre_tile_spec_spark.functions import tilemath as TM
from maplibre_tile_spec_spark.operators import spatial as S
from maplibre_tile_spec_spark.session import scoped_materialize
from maplibre_tile_spec_spark.sources import synth, tables

# ---------------------------------------------------------------------------
# shared literal fixtures
# ---------------------------------------------------------------------------

# (poly_id, rings) — ring = closed list of (lon, lat); first ring outer, rest holes
PIP_POLYGONS: list[tuple[str, list[list[tuple[float, float]]]]] = [
    (
        "poly-east",
        [[(-80.3, 25.7), (-71.9, 26.7), (-69.2, 41.1), (-79.8, 43.2), (-80.3, 25.7)]],
    ),
    (
        "poly-west",
        [[(-124.2, 32.5), (-114.1, 31.9), (-113.6, 42.1), (-124.7, 42.8), (-124.2, 32.5)]],
    ),
    (
        "poly-mid-hole",
        [
            [(-105.3, 30.2), (-92.1, 29.8), (-91.4, 44.6), (-106.2, 45.1), (-105.3, 30.2)],
            [(-101.2, 35.3), (-96.4, 35.1), (-96.1, 40.2), (-100.8, 40.6), (-101.2, 35.3)],
        ],
    ),
    (
        "poly-northeast-tri",
        [[(-79.1, 40.3), (-70.4, 40.9), (-74.6, 47.2), (-79.1, 40.3)]],
    ),
]

KNN_QUERIES: list[tuple[str, float, float, int]] = [
    ("q-nyc", -74.006, 40.713, 5),
    ("q-la", -118.244, 34.052, 5),
    ("q-chi", -87.630, 41.878, 10),
    ("q-mia", -80.192, 25.762, 1),
    ("q-sea", -122.332, 47.606, 5),
    ("q-den", -104.990, 39.739, 10),
    ("q-dal", -96.797, 32.777, 1),
    ("q-dc", -77.037, 38.907, 5),
]

PYRAMID_MAX_Z = 6


def _polys_wkt() -> list[tuple[str, str]]:
    out = []
    for pid, rings in PIP_POLYGONS:
        body = ", ".join("(" + ", ".join(f"{x} {y}" for x, y in ring) + ")" for ring in rings)
        out.append((pid, f"POLYGON ({body})"))
    return out


def _poly_edges_values() -> str:
    """VALUES list of polygon edges for the SQL ray-cast oracle."""
    rows = []
    for pid, rings in PIP_POLYGONS:
        for ring in rings:
            for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
                rows.append(f"('{pid}', {x1}, {y1}, {x2}, {y2})")
    return ",\n    ".join(rows)


def _knn_queries_values() -> str:
    return ",\n    ".join(f"('{q}', {lon}, {lat}, {k})" for q, lon, lat, k in KNN_QUERIES)


# ---------------------------------------------------------------------------
# shared derivation: synthetic points from the events table
# ---------------------------------------------------------------------------

_PTS_SQL = """
SELECT event_id AS pid,
       -125.0 + ((event_id % 16777216) * 2654435761 % 1000000) / 1000000.0 * 59.0 AS lon,
       24.0 + (((event_id % 16777216) * 40503 + 7) % 1000000) / 1000000.0 * 25.0 AS lat
FROM events
"""


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("pid"),
        (
            F.lit(-125.0)
            + ((F.col("event_id") % 16777216) * 2654435761 % 1000000) / 1000000.0 * 59.0
        ).alias("lon"),
        (
            F.lit(24.0)
            + (((F.col("event_id") % 16777216) * 40503 + 7) % 1000000) / 1000000.0 * 25.0
        ).alias("lat"),
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point → z12 slippy tile, count per tile (the engine's core scan+agg)."""
    z = 12
    pts = _points(spark, sf_dir)
    return (
        pts.select(
            TM.lon_to_tile_x(F.col("lon"), z).cast("long").alias("x"),
            TM.lat_to_tile_y(F.col("lat"), z).cast("long").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count("*").alias("n_points"))
    )


def _sql_tile_assign() -> str:
    return f"""
WITH pts AS ({_PTS_SQL})
SELECT {TM.tile_x_sql('lon', 12)} AS x, {TM.tile_y_sql('lat', 12)} AS y,
       count(*) AS n_points
FROM pts GROUP BY 1, 2
"""


def q_tile_pyramid_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile counts rolled up the pyramid (z12 → z8 → z4) via ancestor shifts."""
    # persisted: the three pyramid levels each aggregate over the same z12
    # base — without the cache boundary the scan + two-phase aggregate runs
    # once per union branch. Output-sized (one row per z12 tile).
    base = q_tile_assign(spark, sf_dir).persist()
    parts = []
    for z in (4, 8, 12):
        sh = 12 - z
        parts.append(
            base.groupBy(
                F.shiftrightunsigned(F.col("x"), sh).cast("long").alias("x"),
                F.shiftrightunsigned(F.col("y"), sh).cast("long").alias("y"),
            )
            .agg(F.sum("n_points").alias("n_points"))
            .select(F.lit(z).cast("long").alias("z"), "x", "y", "n_points")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _sql_tile_pyramid_rollup() -> str:
    selects = []
    for z in (4, 8, 12):
        div = 2 ** (12 - z)
        selects.append(
            f"""SELECT CAST({z} AS BIGINT) AS z, x // {div} AS x, y // {div} AS y, CAST(sum(n_points) AS BIGINT) AS n_points
FROM base GROUP BY 1, 2, 3"""
        )
    u = "\nUNION ALL\n".join(selects)
    return f"""
WITH pts AS ({_PTS_SQL}),
base AS (
  SELECT {TM.tile_x_sql('lon', 12)} AS x, {TM.tile_y_sql('lat', 12)} AS y,
         count(*) AS n_points
  FROM pts GROUP BY 1, 2
)
{u}
"""


def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact point-in-polygon join against the literal polygon fixtures."""
    pts = _points(spark, sf_dir)
    polys = spark.createDataFrame(_polys_wkt(), "poly_id string, geom_wkt string")
    return S.pip_join(pts, polys, id_col="pid", id_type="long").select(
        F.col("pid").cast("long").alias("pid"), "poly_id"
    )


def _sql_pip_join() -> str:
    cond = G.pip_oracle_sql_condition("p.lon", "p.lat")
    return f"""
WITH pts AS ({_PTS_SQL}),
edges(poly_id, x1, y1, x2, y2) AS (VALUES
    {_poly_edges_values()}
)
SELECT p.pid AS pid, e.poly_id AS poly_id
FROM pts p CROSS JOIN edges e
GROUP BY p.pid, e.poly_id, p.lon, p.lat
HAVING sum(CASE WHEN {cond} THEN 1 ELSE 0 END) % 2 = 1
"""


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN of the literal query set against the derived points."""
    pts = _points(spark, sf_dir)
    qdf = spark.createDataFrame(KNN_QUERIES, "qid string, lon double, lat double, k int")
    out = S.knn_join(qdf, pts, level=7, ring=2)
    return out.select(
        "qid", F.col("pid").cast("long").alias("pid"), F.col("rank").cast("long").alias("rank")
    )


def _sql_knn_join() -> str:
    dist = G.haversine_sql("q.lon", "q.lat", "p.lon", "p.lat")
    return f"""
WITH pts AS ({_PTS_SQL}),
queries(qid, lon, lat, k) AS (VALUES
    {_knn_queries_values()}
),
ranked AS (
  SELECT q.qid, p.pid, q.k,
         row_number() OVER (PARTITION BY q.qid ORDER BY {dist} ASC, p.pid ASC) AS rank
  FROM queries q CROSS JOIN pts p
)
SELECT qid, pid, rank FROM ranked WHERE rank <= k
"""


def q_quadkey_pyramid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster↔vector assignment: each point joined to every bbox-pyramid
    tile containing it (quadkey ranges linearized to ancestor equi-join)."""
    from maplibre_tile_spec_spark.operators.text import spread_small_scan

    # spread the point side: the ancestor explode + broadcast join has no
    # exchange of its own, so a single-split scan serializes the whole
    # probe (0.99 s → 0.81 s at sf0.1)
    pts = spread_small_scan(_points(spark, sf_dir))
    raster = synth.synthesize_raster_tiles(spark, max_z=PYRAMID_MAX_Z, seed=42)
    out = S.quadkey_ancestor_join(pts, raster, max_z=PYRAMID_MAX_Z, id_col="pid")
    return out.select(
        F.col("pid").cast("long").alias("pid"),
        F.col("z").cast("long").alias("z"),
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
    )


def _sql_quadkey_pyramid_join() -> str:
    selects = []
    for z, x0, x1, y0, y1 in synth.pyramid_ranges(PYRAMID_MAX_Z):
        div = 2 ** (PYRAMID_MAX_Z - z)
        selects.append(
            f"""SELECT pid, CAST({z} AS BIGINT) AS z, xz // {div} AS x, yz // {div} AS y
FROM base WHERE xz // {div} BETWEEN {x0} AND {x1} AND yz // {div} BETWEEN {y0} AND {y1}"""
        )
    u = "\nUNION ALL\n".join(selects)
    return f"""
WITH pts AS ({_PTS_SQL}),
base AS (
  SELECT pid, {TM.tile_x_sql('lon', PYRAMID_MAX_Z)} AS xz, {TM.tile_y_sql('lat', PYRAMID_MAX_Z)} AS yz
  FROM pts
)
{u}
"""


def q_zigzag_delta_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MLT integer stream encoding as a window: per-supplier delta of
    orderkeys (order-sensitive) then zigzag — SURVEY.md §2.5."""
    li = tables.load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy("l_orderkey", "l_linenumber")
    delta = F.col("l_orderkey") - F.lag("l_orderkey", 1, 0).over(w)
    zz = F.when(delta >= 0, 2 * delta).otherwise(-2 * delta - 1)
    return li.select(
        F.col("l_suppkey").cast("long").alias("l_suppkey"),
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        zz.cast("long").alias("zz_delta"),
    )


def _sql_zigzag_delta_stream() -> str:
    return """
SELECT l_suppkey,
       l_orderkey,
       CAST(l_linenumber AS BIGINT) AS l_linenumber,
       CASE WHEN d >= 0 THEN 2 * d ELSE -2 * d - 1 END AS zz_delta
FROM (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         l_orderkey - lag(l_orderkey, 1, 0)
           OVER (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber) AS d
  FROM lineitem
)
"""


RLE_BUCKET_WIDTH = 4096  # rows per ordered bucket; bucket count grows with data


def q_rle_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of the event_type stream ordered by event_id
    (EncodingUtils.encodeRle semantics), **two-phase partitioned**: a
    global ``Window.orderBy`` would serialize every row through one task,
    so runs are computed per contiguous event_id bucket (floor division is
    order-preserving across buckets), then boundary runs are stitched with
    a window over the tiny per-bucket summary (#buckets rows, not #rows).
    Output run ids are identical to the sequential definition: bucket b's
    run offset = Σ runs before b − Σ boundary merges up to b, so a run
    crossing a boundary keeps one global id and its partial counts
    combine in the final group-by."""
    ev = tables.load(spark, sf_dir, "events")
    bucketed = ev.select(
        "event_id", "event_type", (F.col("event_id") / RLE_BUCKET_WIDTH).cast("long").alias("_b")
    )
    wb = Window.partitionBy("_b").orderBy("event_id")
    chg = F.when(
        F.lag("event_type", 1).over(wb).isNull()
        | (F.lag("event_type", 1).over(wb) != F.col("event_type")),
        1,
    ).otherwise(0)
    local_run = F.sum(chg).over(wb.rowsBetween(Window.unboundedPreceding, 0))
    flagged = bucketed.select("_b", "event_id", "event_type", local_run.alias("_lr"))
    summary = flagged.groupBy("_b").agg(
        F.max("_lr").alias("_n_runs"),
        F.min_by("event_type", "event_id").alias("_first_type"),
        F.max_by("event_type", "event_id").alias("_last_type"),
    )
    ws = Window.orderBy("_b")  # tiny: one row per bucket
    merge = F.when(F.lag("_last_type", 1).over(ws) == F.col("_first_type"), 1).otherwise(0)
    flagged_summary = summary.select("_b", "_n_runs", merge.alias("_merge"))
    offset = F.coalesce(
        F.sum("_n_runs").over(ws.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    ) - F.sum("_merge").over(ws.rowsBetween(Window.unboundedPreceding, 0))
    offsets = flagged_summary.select("_b", offset.alias("_off"))
    return (
        flagged.join(F.broadcast(offsets), "_b")
        .select("event_type", (F.col("_lr") + F.col("_off")).alias("run_id"))
        .groupBy("run_id", "event_type")
        .agg(F.count("*").alias("run_len"))
        .select(F.col("run_id").cast("long"), "event_type", F.col("run_len").cast("long"))
    )


def _sql_rle_runs() -> str:
    return """
WITH flagged AS (
  SELECT event_type,
         CASE WHEN lag(event_type) OVER (ORDER BY event_id) IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg,
         event_id
  FROM events
),
runs AS (
  SELECT event_type,
         sum(chg) OVER (ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS run_id
  FROM flagged
)
SELECT CAST(run_id AS BIGINT) AS run_id, event_type, count(*) AS run_len
FROM runs GROUP BY run_id, event_type
"""


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary, exact integer-cents arithmetic."""
    li = tables.load(spark, sf_dir, "lineitem")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    charge_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")) * 100
    ).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(price_c).alias("sum_base_price_cents"),
            F.sum(disc_c).alias("sum_disc_price_cents"),
            F.sum(charge_c).alias("sum_charge_cents"),
            F.count("*").alias("count_order"),
        )
    )


def _sql_tpch_q1() -> str:
    return """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by total price per customer (windowed top-k)."""
    o = tables.load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("o_custkey").cast("long"),
            F.col("o_orderkey").cast("long"),
            F.col("rnk").cast("long"),
        )
    )


def _sql_top_orders_per_customer() -> str:
    return """
SELECT o_custkey, o_orderkey, rnk
FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders
)
WHERE rnk <= 3
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way broadcast join: lineitem ⋈ supplier ⋈ nation, revenue in cents."""
    li = tables.load(spark, sf_dir, "lineitem")
    sup = tables.load(spark, sf_dir, "supplier")
    nat = tables.load(spark, sf_dir, "nation")
    rev_c = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(rev_c).alias("revenue_cents"), F.count("*").alias("n_items"))
    )


def _sql_revenue_by_nation() -> str:
    return """
SELECT n_name,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup: md5 hash-group, keep min doc_id as representative."""
    d = tables.load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count("*").alias("n_copies"))
        .select("text_hash", F.col("rep_doc_id").cast("long"), F.col("n_copies").cast("long"))
    )


def _sql_dedup_exact() -> str:
    return """
SELECT md5(text) AS text_hash, min(doc_id) AS rep_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token count + punctuation count (quality-scoring base)."""
    from maplibre_tile_spec_spark.operators.text import spread_small_scan

    d = spread_small_scan(tables.load(spark, sf_dir, "documents"))
    toks = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    punct = F.length(F.col("text")) - F.length(F.regexp_replace(F.col("text"), "[.,!?;:]", ""))
    return d.select(
        F.col("doc_id").cast("long"),
        toks.cast("long").alias("n_tokens"),
        punct.cast("long").alias("n_punct"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


def _sql_text_stats() -> str:
    return r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
       length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
       length(text) AS n_chars_actual
FROM documents
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 20 vectors."""
    from maplibre_tile_spec_spark.operators.text import spread_small_scan

    emb = tables.load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    # spread the corpus side: a single-row-group scan would run every
    # cosine fold of the broadcast cross join on ONE task (0.9 s → 0.5 s)
    c = spread_small_scan(emb).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("qid") != F.col("cid"))
    dbl = lambda col: F.transform(col, lambda x: x.cast("double"))  # noqa: E731
    dot = F.aggregate(
        F.zip_with(dbl(F.col("q_emb")), dbl(F.col("c_emb")), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nq = F.aggregate(dbl(F.col("q_emb")), F.lit(0.0), lambda acc, x: acc + x * x)
    nc = F.aggregate(dbl(F.col("c_emb")), F.lit(0.0), lambda acc, x: acc + x * x)
    cos = dot / (F.sqrt(nq) * F.sqrt(nc))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return (
        pairs.select("qid", "cid", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            F.col("qid").cast("long"),
            F.col("cid").cast("long"),
            F.col("rank").cast("long"),
        )
    )


def _sql_cosine_topk() -> str:
    return """
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c_emb FROM embeddings),
scored AS (
  SELECT q.qid, c.cid,
         list_dot_product(q.q_emb, c.c_emb)
           / (sqrt(list_dot_product(q.q_emb, q.q_emb)) * sqrt(list_dot_product(c.c_emb, c.c_emb))) AS cos
  FROM q CROSS JOIN c WHERE q.qid != c.cid
)
SELECT qid, cid, rank
FROM (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank FROM scored)
WHERE rank <= 5
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user session ids from >30-minute gaps (lag + cumsum)."""
    ev = tables.load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess_id = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.select("user_id", "event_id", sess_id.alias("session_id"))
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"), F.min("event_id").alias("first_event"))
        .select(
            F.col("user_id").cast("long"),
            F.col("session_id").cast("long"),
            F.col("n_events").cast("long"),
            F.col("first_event").cast("long"),
        )
    )


def _sql_sessionize_events() -> str:
    return """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
s AS (
  SELECT user_id, event_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events, min(event_id) AS first_event
FROM s GROUP BY user_id, session_id
"""


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs with an md5 hash family chosen
    so the SQL oracle reproduces signatures byte-for-byte."""
    from maplibre_tile_spec_spark.operators import dedup

    d = tables.load(spark, sf_dir, "documents")
    return dedup.lsh_candidate_pairs(d).select(
        F.col("doc_a").cast("long"), F.col("doc_b").cast("long")
    )


def _minhash_pairs_cte_body() -> str:
    """Shared CTE chain ending in ``bands`` — used by both the LSH-pairs
    oracle and the cluster-resolution oracle."""
    from maplibre_tile_spec_spark.operators.dedup import FAMILY_A, FAMILY_B, MERSENNE31

    members = ",\n           ".join(
        f"list_min(list_transform(hs, v -> ({a} * v + {b}) % {MERSENNE31}))"
        for a, b in zip(FAMILY_A, FAMILY_B)
    )
    return rf"""toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
  FROM toks WHERE len(t) >= 3
),
hashed AS (
  SELECT doc_id,
         list_transform(shingles, s -> CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % {MERSENNE31}) AS hs
  FROM sh
),
mh AS (
  SELECT doc_id,
         [{members}] AS mhs
  FROM hashed
),
bands AS (
  SELECT doc_id, u.b AS band, md5(array_to_string(mhs[u.b*4+1 : u.b*4+4], ',')) AS sig
  FROM mh CROSS JOIN unnest(range(0, 4)) AS u(b)
)"""


def _sql_minhash_lsh_pairs() -> str:
    return f"""
WITH {_minhash_pairs_cte_body()}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
"""


def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution (keep-one dedup): connected components
    over the LSH candidate-pair graph via iterative min-label propagation +
    pointer jumping (pure DataFrame joins), one output row per cluster."""
    from maplibre_tile_spec_spark.operators import dedup

    d = tables.load(spark, sf_dir, "documents")
    pairs = dedup.lsh_candidate_pairs(d)
    assign = dedup.cluster_assign(
        d.select(F.col("doc_id").cast("long").alias("doc_id")), pairs
    )
    out = assign.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"), F.max("doc_id").alias("member_max")
    )
    # component labels are checkpointed inside cluster_assign, so the
    # pair graph is no longer referenced
    pairs.unpersist()
    return out


def _sql_dedup_cluster() -> str:
    """Oracle: same LSH pairs, transitive closure by recursive CTE (the set
    of (reachable id, origin comp) pairs is finite, UNION dedups, so the
    fixpoint terminates), then min-label per doc and one row per cluster."""
    return f"""
WITH RECURSIVE {_minhash_pairs_cte_body()},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
  SELECT doc_id AS id, doc_id AS comp FROM documents
  UNION
  SELECT e.dst AS id, r.comp AS comp FROM reach r JOIN edges e ON e.src = r.id
),
assign AS (SELECT id, MIN(comp) AS cluster_id FROM reach GROUP BY id)
SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members, MAX(id) AS member_max
FROM assign GROUP BY cluster_id
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH dedup pipeline: 80% of the documents form the
    standing corpus — resolved once into a bucketed (band, sig) band store
    plus a cluster map — and the remaining 20% (doc_id % 5 == 0) arrive as
    a new batch deduplicated against the STORE ONLY (the old documents are
    never rescanned; plan-pinned in TestIncrementalDedup). The returned
    post-merge cluster table must equal a full recompute over old ∪ new —
    which is exactly what the DuckDB twin computes (same SQL as
    ``dedup_cluster``), so the oracle check IS the incremental ≡ full
    contract."""
    from maplibre_tile_spec_spark.operators import dedup
    from maplibre_tile_spec_spark.operators import dedup_incremental as DI

    d = tables.load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    old_docs = d.filter(F.col("doc_id") % 5 != 0)
    new_docs = d.filter(F.col("doc_id") % 5 == 0)
    # ---- standing state (amortized across batches in production) ----
    store_table = DI.ensure_store_table(spark, sf_dir.rstrip("/").split("/")[-1])
    # one MinHash pass over the old corpus serves BOTH the store write and
    # the bootstrap pair generation (the pairs are the same (band, sig)
    # self-join the store rows feed) — previously the signatures were
    # computed twice, once inside write_band_store and once inside
    # lsh_candidate_pairs
    bands_old = DI.minhash_band_table(old_docs).persist()
    DI.write_band_store(bands_old, store_table)
    old_pairs = scoped_materialize(dedup.pairs_from_bands(bands_old), bands_old)
    cluster_map = scoped_materialize(
        dedup.cluster_assign(old_docs.select("doc_id"), old_pairs).select(
            F.col("doc_id").alias("id"), "cluster_id"
        ),
        old_pairs,
    )
    # ---- the incremental batch ----
    res = DI.lsh_dedup_incremental(new_docs, spark.table(store_table), cluster_map)
    updated = DI.updated_assignment(cluster_map, res)
    out = updated.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"), F.max("id").alias("member_max")
    )
    return scoped_materialize(out, cluster_map, res.new_assign, res.remap, res.new_bands)


def _sql_dedup_incremental() -> str:
    """Oracle = FULL RECOMPUTE over all documents: if the incremental path
    (band-store probe + contracted components + remap) is correct, its
    merged output is indistinguishable from recomputing clusters from
    scratch — the strongest possible cross-engine check of the incremental
    semantics."""
    return _sql_dedup_cluster()


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ 0.2 via inverted-index join."""
    from maplibre_tile_spec_spark.operators import dedup

    d = tables.load(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, threshold=0.2).select(
        F.col("doc_a").cast("long"),
        F.col("doc_b").cast("long"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def _sql_ngram_jaccard() -> str:
    return r"""
WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
  FROM toks WHERE len(t) >= 3
),
inv AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter,
         any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(n_inter / (na + nb - n_inter), 6) AS jaccard
FROM inter WHERE n_inter / (na + nb - n_inter) >= 0.2
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID with deterministic tie-break."""
    from maplibre_tile_spec_spark.operators import text as T

    d = tables.load(spark, sf_dir, "documents")
    return T.lang_scores(d).select(
        F.col("doc_id").cast("long"), "hits_en", "hits_de", "hits_fr", "hits_es", "lang_pred"
    )


def _sql_lang_id() -> str:
    from maplibre_tile_spec_spark.operators.text import LANG_ORDER, STOPWORDS

    hit_cols = []
    for lang in LANG_ORDER:
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        hit_cols.append(
            f"CAST(list_sum(list_transform(t, x -> CASE WHEN x IN ({words}) THEN 1 ELSE 0 END)) AS BIGINT) AS hits_{lang}"
        )
    # argmax with first-in-order tie-break, mirroring lang_scores
    best = f"'{LANG_ORDER[-1]}'"
    best_hits = f"hits_{LANG_ORDER[-1]}"
    for lang in reversed(LANG_ORDER[:-1]):
        best = f"CASE WHEN hits_{lang} >= {best_hits} THEN '{lang}' ELSE {best} END"
        best_hits = f"CASE WHEN hits_{lang} >= {best_hits} THEN hits_{lang} ELSE {best_hits} END"
    return rf"""
WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
scored AS (SELECT doc_id, {", ".join(hit_cols)} FROM toks)
SELECT doc_id, hits_en, hits_de, hits_fr, hits_es,
       CASE WHEN {best_hits} > 0 THEN {best} ELSE 'unknown' END AS lang_pred
FROM scored
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based document quality flags (exact integer arithmetic)."""
    from maplibre_tile_spec_spark.operators import text as T

    d = tables.load(spark, sf_dir, "documents")
    return T.quality_score(d).select(
        F.col("doc_id").cast("long"),
        "n_tokens",
        "mean_word_len_x100",
        "n_punct",
        "n_alpha_tokens",
        "quality_score",
    )


def _sql_quality_score() -> str:
    return r"""
WITH toks AS (
  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
),
m AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         CAST(floor(CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) * 100 / greatest(len(t), 1)) AS BIGINT) AS mean_word_len_x100,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         length(text) AS n_chars,
         CAST(list_sum(list_transform(t, x -> CASE WHEN regexp_matches(x, '^[a-z]+$') THEN 1 ELSE 0 END)) AS BIGINT) AS n_alpha_tokens
  FROM toks
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, mean_word_len_x100,
       CAST(n_punct AS BIGINT) AS n_punct,
       COALESCE(n_alpha_tokens, 0) AS n_alpha_tokens,
       CAST((CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 1 ELSE 0 END)
          + (CASE WHEN mean_word_len_x100 BETWEEN 200 AND 1200 THEN 1 ELSE 0 END)
          + (CASE WHEN n_punct * 5 <= n_chars THEN 1 ELSE 0 END)
          + (CASE WHEN COALESCE(n_alpha_tokens, 0) * 2 >= n_tokens THEN 1 ELSE 0 END) AS BIGINT) AS quality_score
FROM m
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish subword token estimates."""
    from maplibre_tile_spec_spark.operators import text as T

    d = tables.load(spark, sf_dir, "documents")
    return T.token_counts(d).select(F.col("doc_id").cast("long"), "n_ws_tokens", "n_bpe_est")


def _sql_token_counts() -> str:
    return r"""
WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS p FROM documents)
SELECT doc_id,
       CAST(len(p) AS BIGINT) AS n_ws_tokens,
       CAST(list_sum(list_transform(p, x -> floor((length(x) + 3) / 4))) AS BIGINT) AS n_bpe_est
FROM toks
"""


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints (full-text md5 + first-8-token prefix md5)."""
    from maplibre_tile_spec_spark.operators import text as T

    d = tables.load(spark, sf_dir, "documents")
    return T.fingerprints(d).select(F.col("doc_id").cast("long"), "fp_full", "fp_head8")


def _sql_fingerprints() -> str:
    return r"""
WITH toks AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents)
SELECT doc_id, md5(text) AS fp_full,
       md5(array_to_string(t[1:8], ' ')) AS fp_head8
FROM toks
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3, pigeonhole-blocked join)."""
    from maplibre_tile_spec_spark.operators import dedup

    d = tables.load(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(d).select(
        F.col("doc_a").cast("long"), F.col("doc_b").cast("long"), F.col("hamming").cast("long")
    )


def _sql_simhash_pairs(bits: int = 60, n_blocks: int = 4, max_hamming: int = 3) -> str:
    """SQL twin of dedup.simhash + simhash_near_pairs: token hash = first
    15 md5 nibbles as a 60-bit int (CAST('0x…')), per-bit ±1 majority vote,
    pigeonhole block join, exact hamming via bit_count(xor)."""
    block_bits = bits // n_blocks
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(bits)
    )
    sim_expr = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END)" for i in range(bits)
    )
    block_rows = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS blk, (sim >> {b * block_bits}) & {2**block_bits - 1} AS key, sim FROM sims"
        for b in range(n_blocks)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok FROM documents
),
h AS (
  SELECT doc_id, CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks
),
votes AS (
  SELECT doc_id,
         {bit_sums}
  FROM h GROUP BY doc_id
),
sims AS (SELECT doc_id, {sim_expr} AS sim FROM votes),
blocks AS (
  {block_rows}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}
"""


def q_tpch_q3_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority query: 3-way join + filter + group + exact cents."""
    cust = tables.load(spark, sf_dir, "customer")
    orders = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    rev_c = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("o_orderdate") < "1995-03-15")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev_c).alias("revenue_cents"))
        .select(
            F.col("l_orderkey").cast("long"),
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "o_orderpriority",
            "revenue_cents",
        )
    )


def _sql_tpch_q3_like() -> str:
    return """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       o_orderpriority,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
"""


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]  # stable across SFs


def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type pivot (fixed value set → conditional aggregates)."""
    ev = tables.load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0)
        .select(F.col("user_id").cast("long"), *[F.col(t).cast("long") for t in EVENT_TYPES])
    )


def _sql_pivot_events() -> str:
    conds = ",\n       ".join(
        f"CAST(count(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT) AS \"{t}\"" for t in EVENT_TYPES
    )
    return f"SELECT user_id, {conds} FROM events GROUP BY user_id"


def q_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) — grouping-set aggregates."""
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.sum(F.col("l_quantity").cast("long")).alias("qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("l_linestatus"),
            F.col("n").cast("long"),
            F.col("qty").cast("long"),
        )
    )


def _sql_cube_lineitem() -> str:
    return """
SELECT COALESCE(l_returnflag, '<all>') AS l_returnflag,
       COALESCE(l_linestatus, '<all>') AS l_linestatus,
       count(*) AS n,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_asof_event_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event paired with the user's most recent order at
    or before the event timestamp (union + window carry-forward)."""
    from maplibre_tile_spec_spark.operators.relational import as_of_join

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("k"), F.col("ts").alias("ev_ts")
    )
    orders = tables.load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("ord_ts"),
        F.col("o_orderkey"),
    )
    # deterministic: at most one order per (k, ts): keep max orderkey
    orders = orders.groupBy("k", "ord_ts").agg(F.max("o_orderkey").alias("o_orderkey"))
    out = as_of_join(ev, orders, key="k", left_ts="ev_ts", right_ts="ord_ts", right_cols=["o_orderkey"])
    return out.select(
        F.col("event_id").cast("long"),
        F.col("k").cast("long").alias("user_id"),
        F.col("o_orderkey").cast("long").alias("last_orderkey"),
    )


def _sql_asof_event_order() -> str:
    return """
WITH o AS (
  SELECT o_custkey AS k, o_orderdate AS ord_ts, CAST(max(o_orderkey) AS BIGINT) AS o_orderkey
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id,
       (SELECT o.o_orderkey FROM o
        WHERE o.k = e.user_id AND o.ord_ts <= e.ts
        ORDER BY o.ord_ts DESC LIMIT 1) AS last_orderkey
FROM events e
"""


def q_schema_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type inference + unification over mixed-type property observations
    (the reference's createTilesetMetadata scan as one aggregate)."""
    from maplibre_tile_spec_spark.operators import schema_infer as SI

    ev = tables.load(spark, sf_dir, "events")
    part = tables.load(spark, sf_dir, "part")
    orders = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    json_obs = SI.observations_from_json(ev, "props")
    synthetic = (
        part.select(F.lit("size_like").alias("prop"), SI.classify_value(F.col("p_size").cast("string")).alias("obs_type"))
        .unionByName(
            orders.select(
                F.lit("size_like").alias("prop"),
                SI.classify_value((F.col("o_orderkey") + 3000000000).cast("string")).alias("obs_type"),
            )
        )
        .unionByName(
            li.select(
                F.lit("price_like").alias("prop"),
                SI.classify_value(F.format_string("%.2f", F.col("l_extendedprice"))).alias("obs_type"),
            )
        )
        .unionByName(
            li.select(
                F.lit("price_like").alias("prop"),
                SI.classify_value(F.col("l_linenumber").cast("string")).alias("obs_type"),
            )
        )
        .unionByName(
            li.select(
                F.lit("flag_like").alias("prop"),
                SI.classify_value(F.when(F.col("l_returnflag") == "R", "true").otherwise("false")).alias("obs_type"),
            )
        )
        .unionByName(
            part.select(F.lit("mixed").alias("prop"), SI.classify_value(F.col("p_size").cast("string")).alias("obs_type"))
        )
        .unionByName(
            part.select(F.lit("mixed").alias("prop"), SI.classify_value(F.col("p_brand")).alias("obs_type"))
        )
    )
    return SI.unify(json_obs.unionByName(synthetic))


def _sql_schema_inference() -> str:
    from maplibre_tile_spec_spark.operators.schema_infer import UNIFY_SQL_CASE, classify_sql

    return f"""
WITH json_obs AS (
  SELECT u.k AS prop, {classify_sql("json_extract_string(props, '$.' || u.k)")} AS obs_type
  FROM events, unnest(json_keys(props)) AS u(k)
),
synthetic AS (
  SELECT 'size_like' AS prop, {classify_sql("CAST(p_size AS VARCHAR)")} AS obs_type FROM part
  UNION ALL
  SELECT 'size_like', {classify_sql("CAST(o_orderkey + 3000000000 AS VARCHAR)")} FROM orders
  UNION ALL
  SELECT 'price_like', {classify_sql("printf('%.2f', l_extendedprice)")} FROM lineitem
  UNION ALL
  SELECT 'price_like', {classify_sql("CAST(l_linenumber AS VARCHAR)")} FROM lineitem
  UNION ALL
  SELECT 'flag_like', {classify_sql("CASE WHEN l_returnflag = 'R' THEN 'true' ELSE 'false' END")} FROM lineitem
  UNION ALL
  SELECT 'mixed', {classify_sql("CAST(p_size AS VARCHAR)")} FROM part
  UNION ALL
  SELECT 'mixed', {classify_sql("p_brand")} FROM part
),
all_obs AS (SELECT * FROM json_obs UNION ALL SELECT * FROM synthetic),
flags AS (
  SELECT prop, count(*) AS n_obs,
         max(CASE WHEN obs_type = 'string' THEN 1 ELSE 0 END) AS has_str,
         max(CASE WHEN obs_type = 'boolean' THEN 1 ELSE 0 END) AS has_bool,
         max(CASE WHEN obs_type = 'double' THEN 1 ELSE 0 END) AS has_dbl,
         max(CASE WHEN obs_type = 'int64' THEN 1 ELSE 0 END) AS has_i64,
         max(CASE WHEN obs_type = 'int32' THEN 1 ELSE 0 END) AS has_i32
  FROM all_obs GROUP BY prop
)
SELECT prop, {UNIFY_SQL_CASE} AS unified_type, CAST(n_obs AS BIGINT) AS n_obs
FROM flags
"""


EMB_DIM = 64  # embeddings.parquet vector width (fixed across SFs)


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbors (scale path) with the
    oracle-exact Rademacher-signature variant: quantized-integer sign
    projections + exact cosine re-rank, all Catalyst."""
    from maplibre_tile_spec_spark.operators import similarity

    emb = tables.load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(F.col("vec_id").alias("qid"), "embedding")
    c = emb.select(F.col("vec_id").alias("cid"), "embedding")
    out = similarity.ann_lsh_topk_catalyst(q, c, dim=EMB_DIM, k=5)
    return out.select(
        F.col("qid").cast("long"), F.col("cid").cast("long"), F.col("rank").cast("long")
    )


def _sql_ann_cosine_topk(n_planes: int = 16, band_bits: int = 2, seed: int = 7, k: int = 5) -> str:
    """SQL twin of ann_lsh_topk_catalyst: the ±1 plane matrix is embedded
    as integer literals (same deterministic matrix the Spark side uses),
    signatures are integer-exact, re-rank is the proven list_dot_product
    cosine from the cosine_topk oracle."""
    from maplibre_tile_spec_spark.operators.similarity import QUANT_SCALE, rademacher_planes

    planes = rademacher_planes(EMB_DIM, n_planes, seed)
    n_bands = n_planes // band_bits
    dots = []
    for p in range(n_planes):
        row = ", ".join(str(int(v)) for v in planes[p])
        dots.append(
            f"(CASE WHEN list_dot_product(qi, [{row}]) > 0 THEN CAST({2**p} AS BIGINT) ELSE 0 END)"
        )
    sig_expr = " + ".join(dots)
    band_rows = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {b} AS band, (sig >> {b * band_bits}) & {2**band_bits - 1} AS key FROM sigs"
        for b in range(n_bands)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
qz AS (
  SELECT vec_id, list_transform(emb, x -> CAST(floor(x * {QUANT_SCALE}) AS BIGINT)) AS qi FROM e
),
sigs AS (SELECT vec_id, {sig_expr} AS sig FROM qz),
bands AS (
  {band_rows}
),
cand AS (
  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
  FROM bands q JOIN bands c ON q.band = c.band AND q.key = c.key
  WHERE q.vec_id < 20 AND q.vec_id != c.vec_id
),
scored AS (
  SELECT cand.qid, cand.cid,
         list_dot_product(qe.emb, ce.emb)
           / (sqrt(list_dot_product(qe.emb, qe.emb)) * sqrt(list_dot_product(ce.emb, ce.emb))) AS cos
  FROM cand JOIN e qe ON qe.vec_id = cand.qid JOIN e ce ON ce.vec_id = cand.cid
)
SELECT qid, cid, rank
FROM (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank FROM scored)
WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# tile-encode queries over an interleaved documents table whose geometry is
# derived from the events table by pure integer arithmetic — so the DuckDB
# oracle can recompute the expected tile contents exactly, while the Spark
# side runs the REAL pipeline: spans → WKT parse → quantize → MLT encode
# (→ decode for the roundtrip query). WKT coordinates are CAST(double AS
# STRING) shortest-repr, which parses back to the identical double.
# ---------------------------------------------------------------------------

N_GEO_MEMBERS = 3  # multipoint members per doc in the clipped query


def _member_lon(j: int):
    return (
        F.lit(-125.0)
        + (((F.col("event_id") % 16777216) * 2654435761 + F.lit(j * 97)) % 1000000) / 1000000.0 * 59.0
    )


def _member_lat(j: int):
    return (
        F.lit(24.0)
        + (((F.col("event_id") % 16777216) * 40503 + F.lit(7 + j * 131)) % 1000000) / 1000000.0 * 25.0
    )


def _member_lon_sql(j: int) -> str:
    return f"-125.0 + (((event_id % 16777216) * 2654435761 + {j * 97}) % 1000000) / 1000000.0 * 59.0"


def _member_lat_sql(j: int) -> str:
    return f"24.0 + (((event_id % 16777216) * 40503 + {7 + j * 131}) % 1000000) / 1000000.0 * 25.0"


def _geo_docs_from_events(spark: SparkSession, sf_dir: str, multi: bool = False) -> DataFrame:
    """Interleaved documents (doc_id, spans[text, geom]) with POINT (or
    3-member MULTIPOINT) WKT whose coordinates are exact-roundtrip string
    casts of integer-derived doubles."""
    ev = tables.load(spark, sf_dir, "events")
    coord = lambda j: F.concat(_member_lon(j).cast("string"), F.lit(" "), _member_lat(j).cast("string"))  # noqa: E731
    if multi:
        body = F.concat_ws(", ", *[coord(j) for j in range(N_GEO_MEMBERS)])
        wkt = F.concat(F.lit("MULTIPOINT ("), body, F.lit(")"))
    else:
        wkt = F.concat(F.lit("POINT ("), coord(0), F.lit(")"))
    span = lambda kind, text, ref, off: F.struct(  # noqa: E731
        F.lit(kind).alias("kind"), text.alias("text"), F.lit(ref).alias("media_ref"),
        F.lit(off).cast("int").alias("offset"),
    )
    return ev.select(
        F.concat(F.lit("doc-"), F.col("event_id").cast("string")).alias("doc_id"),
        F.array(
            span("text", F.col("event_type"), "", 0),
            span("geom", wkt, "", 1),
        ).alias("spans"),
    )


def q_mlt_tile_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MLT tile assembly: interleaved documents → geom-span explode →
    WKT parse → groupBy(x,y)-encode; per-tile stats come out of the real
    encode kernel and are oracle-checked against an independent SQL tile
    assignment (tile bytes themselves stay pytest/fixture-verified)."""
    from maplibre_tile_spec_spark.operators import features as FE
    from maplibre_tile_spec_spark.operators import tiler

    docs = _geo_docs_from_events(spark, sf_dir)
    # rep-point extraction stays in Catalyst (features.extract_rep_points):
    # the encode path consumes only the tile assignment, and the structural
    # WKT parse happens inside the encode kernel — no BatchEval/ArrowEval
    # node before the encode exchange
    feats = FE.extract_rep_points(docs)
    return tiler.encode_tiles(feats, zoom=8).select(
        F.col("z").cast("long"),
        F.col("x").cast("long"),
        F.col("y").cast("long"),
        F.col("n_features"),
        F.col("n_vertices"),
    )


def _sql_mlt_tile_encode() -> str:
    return f"""
WITH pts AS (SELECT event_id, {_member_lon_sql(0)} AS lon, {_member_lat_sql(0)} AS lat FROM events)
SELECT CAST(8 AS BIGINT) AS z, {TM.tile_x_sql('lon', 8)} AS x, {TM.tile_y_sql('lat', 8)} AS y,
       count(*) AS n_features, count(*) AS n_vertices
FROM pts GROUP BY 2, 3
"""


def q_mlt_tile_encode_clipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spanning-feature tiler with buffered clipping: 3-member MULTIPOINT
    docs explode to every bbox tile and each tile keeps the members inside
    its buffered window — near-edge members land in (and are encoded into)
    multiple tiles, exactly as the SQL twin recomputes."""
    from maplibre_tile_spec_spark.operators import features as FE
    from maplibre_tile_spec_spark.operators import tiler

    docs = _geo_docs_from_events(spark, sf_dir, multi=True)
    # persisted: the auto-salt pre-aggregate and the main encode branch both
    # read the parsed features — without the cache boundary the Arrow parse
    # runs once per branch (~0.9 s at sf0.1). The output-sized result is
    # materialized once through it, then the input-sized cache is released.
    feats = FE.extract_features(docs).persist()
    out = tiler.encode_tiles_clipped(feats, zoom=7, buffer=64).select(
        F.col("z").cast("long"),
        F.col("x").cast("long"),
        F.col("y").cast("long"),
        F.col("n_features"),
        F.col("n_vertices"),
    )
    return scoped_materialize(out, feats)


def _sql_mlt_tile_encode_clipped(zoom: int = 7, extent: int = 4096, buffer: int = 64) -> str:
    n = float(2**zoom)
    members = "\n  UNION ALL\n  ".join(
        f"SELECT event_id, {_member_lon_sql(j)} AS lon, {_member_lat_sql(j)} AS lat FROM events"
        for j in range(N_GEO_MEMBERS)
    )
    fx = f"(lon + 180.0) / 360.0 * {n}"
    fy = f"(1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * {n}"
    return f"""
WITH m AS (
  {members}
),
feat AS (
  SELECT event_id, min(lon) AS lon_min, max(lon) AS lon_max,
         min(lat) AS lat_min, max(lat) AS lat_max
  FROM m GROUP BY event_id
),
trange AS (
  SELECT event_id,
         {TM.tile_x_sql('lon_min', zoom)} AS x_lo, {TM.tile_x_sql('lon_max', zoom)} AS x_hi,
         {TM.tile_y_sql('lat_max', zoom)} AS y_lo, {TM.tile_y_sql('lat_min', zoom)} AS y_hi
  FROM feat
),
tiles AS (
  SELECT event_id, unnest(range(x_lo, x_hi + 1)) AS x, y_lo, y_hi FROM trange
),
tilesxy AS (
  SELECT event_id, x, unnest(range(y_lo, y_hi + 1)) AS y FROM tiles
),
kept AS (
  SELECT t.event_id, t.x, t.y
  FROM tilesxy t JOIN m ON m.event_id = t.event_id
  WHERE ({fx.replace('lon', 'm.lon')} - t.x) * {extent} BETWEEN {-buffer} AND {extent + buffer}
    AND ({fy.replace('lat', 'm.lat')} - t.y) * {extent} BETWEEN {-buffer} AND {extent + buffer}
)
SELECT CAST({zoom} AS BIGINT) AS z, x, y,
       count(DISTINCT event_id) AS n_features, count(*) AS n_vertices
FROM kept GROUP BY x, y
"""


def q_mlt_tile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode then decode every tile; per-tile decoded feature membership
    (ids, geometry type, vertex counts) read back from the tile BYTES must
    match the SQL twin's independently computed expectation."""
    from maplibre_tile_spec_spark.operators import features as FE
    from maplibre_tile_spec_spark.operators import tiler

    docs = _geo_docs_from_events(spark, sf_dir)
    feats = FE.extract_rep_points(docs)  # Catalyst rep extraction (see q_mlt_tile_encode)
    tiles = tiler.encode_tiles(feats, zoom=6)
    return tiler.decode_tiles_membership(tiles).select(
        F.col("z").cast("long"),
        F.col("x").cast("long"),
        F.col("y").cast("long"),
        F.col("feature_id"),
        F.col("geom_type").cast("long"),
        F.col("n_vertices"),
    )


def _sql_mlt_tile_roundtrip() -> str:
    # ids are regenerated 0..n-1 per tile after the Hilbert sort
    # (MltConverter.java:548-611 strategy), so the expected id SET per tile
    # is range(count); every feature is a 1-vertex POINT (MLT ordinal 0)
    return f"""
WITH pts AS (SELECT event_id, {_member_lon_sql(0)} AS lon, {_member_lat_sql(0)} AS lat FROM events),
t AS (
  SELECT {TM.tile_x_sql('lon', 6)} AS x, {TM.tile_y_sql('lat', 6)} AS y, count(*) AS cnt
  FROM pts GROUP BY 1, 2
)
SELECT CAST(6 AS BIGINT) AS z, x, y, unnest(range(0, cnt)) AS feature_id,
       CAST(0 AS BIGINT) AS geom_type, CAST(1 AS BIGINT) AS n_vertices
FROM t
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal path end-to-end: media refs → deterministic binary blobs
    (16-byte header + body) → Arrow-batched header decode + feature kernel.
    The oracle recomputes the header fields from the same md5 arithmetic;
    body statistics (mean/std) stay pytest-verified (numpy RandomState is
    not SQL-expressible)."""
    from maplibre_tile_spec_spark.operators import multimodal as MM

    ev = tables.load(spark, sf_dir, "events")
    refs = ev.select(F.concat(F.lit("s3://bucket/obj-"), F.col("event_id").cast("string")).alias("media_ref"))
    media = MM.synthesize_media(spark, refs, seed=42)
    return MM.media_features(media).select(
        "media_ref", "kind", F.col("n_bytes").cast("long"), F.col("n_frames").cast("long")
    )


def _sql_media_features() -> str:
    # mirrors multimodal.synthesize_media: h = first 8 md5 hex nibbles of
    # "<seed>:<ref>"; kind = h%3; frames = 1 (image) / 2+h%30; body = 64B
    return """
WITH refs AS (
  SELECT 's3://bucket/obj-' || CAST(event_id AS VARCHAR) AS media_ref FROM events
),
h AS (
  SELECT DISTINCT media_ref,
         CAST(concat('0x', substring(md5('42:' || media_ref), 1, 8)) AS BIGINT) AS hv
  FROM refs
)
SELECT media_ref,
       CASE hv % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(79 AS BIGINT) AS n_bytes,
       CAST(CASE WHEN hv % 3 = 0 THEN 1 ELSE 2 + hv % 30 END AS BIGINT) AS n_frames
FROM h
"""


def q_mlt_transcode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed MLT→MLT transcode over the synthetic corpus: encode the
    tile table, decode every tile back to values in Arrow batches and
    re-encode it (operators/tiler.py:transcode_tiles). The projection is
    SQL-checkable: the tile set must equal the independent SQL tile
    assignment and byte_exact must be TRUE on every row (a single False
    flips the value hash). In/out byte sizes stay pytest-verified."""
    from maplibre_tile_spec_spark.operators import features as FE
    from maplibre_tile_spec_spark.operators import tiler

    docs = _geo_docs_from_events(spark, sf_dir)
    feats = FE.extract_rep_points(docs)  # Catalyst rep extraction (see q_mlt_tile_encode)
    tiles = tiler.encode_tiles(feats, zoom=8)
    return tiler.transcode_tiles(tiles).select(
        F.col("z").cast("long"),
        F.col("x").cast("long"),
        F.col("y").cast("long"),
        F.col("byte_exact"),
        (F.col("bytes_out") == F.col("bytes_in")).alias("size_match"),
    )


def _sql_mlt_transcode() -> str:
    return f"""
WITH pts AS (SELECT event_id, {_member_lon_sql(0)} AS lon, {_member_lat_sql(0)} AS lat FROM events)
SELECT CAST(8 AS BIGINT) AS z, {TM.tile_x_sql('lon', 8)} AS x, {TM.tile_y_sql('lat', 8)} AS y,
       TRUE AS byte_exact, TRUE AS size_match
FROM pts GROUP BY 2, 3
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "tile_assign": q_tile_assign,
    "tile_pyramid_rollup": q_tile_pyramid_rollup,
    "pip_join": q_pip_join,
    "knn_join": q_knn_join,
    "quadkey_pyramid_join": q_quadkey_pyramid_join,
    "zigzag_delta_stream": q_zigzag_delta_stream,
    "rle_runs": q_rle_runs,
    "tpch_q1": q_tpch_q1,
    "top_orders_per_customer": q_top_orders_per_customer,
    "revenue_by_nation": q_revenue_by_nation,
    "dedup_exact": q_dedup_exact,
    "text_stats": q_text_stats,
    "cosine_topk": q_cosine_topk,
    "sessionize_events": q_sessionize_events,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "dedup_cluster": q_dedup_cluster,
    "dedup_incremental": q_dedup_incremental,
    "ngram_jaccard": q_ngram_jaccard,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "token_counts": q_token_counts,
    "fingerprints": q_fingerprints,
    "schema_inference": q_schema_inference,
    "tpch_q3_like": q_tpch_q3_like,
    "pivot_events": q_pivot_events,
    "cube_lineitem": q_cube_lineitem,
    "asof_event_order": q_asof_event_order,
    "simhash_pairs": q_simhash_pairs,
    "ann_cosine_topk": q_ann_cosine_topk,
    "mlt_tile_encode": q_mlt_tile_encode,
    "mlt_transcode": q_mlt_transcode,
    "mlt_tile_encode_clipped": q_mlt_tile_encode_clipped,
    "mlt_tile_roundtrip": q_mlt_tile_roundtrip,
    "media_features": q_media_features,
}

ORACLES: dict[str, str] = {
    "tile_assign": _sql_tile_assign(),
    "tile_pyramid_rollup": _sql_tile_pyramid_rollup(),
    "pip_join": _sql_pip_join(),
    "knn_join": _sql_knn_join(),
    "quadkey_pyramid_join": _sql_quadkey_pyramid_join(),
    "zigzag_delta_stream": _sql_zigzag_delta_stream(),
    "rle_runs": _sql_rle_runs(),
    "tpch_q1": _sql_tpch_q1(),
    "top_orders_per_customer": _sql_top_orders_per_customer(),
    "revenue_by_nation": _sql_revenue_by_nation(),
    "dedup_exact": _sql_dedup_exact(),
    "text_stats": _sql_text_stats(),
    "cosine_topk": _sql_cosine_topk(),
    "sessionize_events": _sql_sessionize_events(),
    "minhash_lsh_pairs": _sql_minhash_lsh_pairs(),
    "dedup_cluster": _sql_dedup_cluster(),
    "dedup_incremental": _sql_dedup_incremental(),
    "ngram_jaccard": _sql_ngram_jaccard(),
    "lang_id": _sql_lang_id(),
    "quality_score": _sql_quality_score(),
    "token_counts": _sql_token_counts(),
    "fingerprints": _sql_fingerprints(),
    "schema_inference": _sql_schema_inference(),
    "tpch_q3_like": _sql_tpch_q3_like(),
    "pivot_events": _sql_pivot_events(),
    "cube_lineitem": _sql_cube_lineitem(),
    "asof_event_order": _sql_asof_event_order(),
    "simhash_pairs": _sql_simhash_pairs(),
    "ann_cosine_topk": _sql_ann_cosine_topk(),
    "mlt_tile_encode": _sql_mlt_tile_encode(),
    "mlt_transcode": _sql_mlt_transcode(),
    "mlt_tile_encode_clipped": _sql_mlt_tile_encode_clipped(),
    "mlt_tile_roundtrip": _sql_mlt_tile_roundtrip(),
    "media_features": _sql_media_features(),
}
