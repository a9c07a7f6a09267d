"""Synthesizer determinism + shape + span-sequence invariant tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from maplibre_tile_spec_spark.functions import wkt as W
from maplibre_tile_spec_spark.operators.invariants import (
    assert_span_sequence_equal,
    span_sequence_violations,
)
from maplibre_tile_spec_spark.sources import synth


@pytest.fixture(scope="module")
def docs(spark):
    return synth.synthesize_documents(spark, 500, seed=42).cache()


class TestDocuments:
    def test_schema_and_counts(self, docs):
        assert docs.count() == 500
        assert [f.name for f in docs.schema["spans"].dataType.elementType.fields] == [
            "kind",
            "text",
            "media_ref",
            "offset",
        ]
        stats = docs.select(F.size("spans").alias("n")).agg(
            F.min("n").alias("lo"), F.max("n").alias("hi")
        ).first()
        assert 1 <= stats.lo and stats.hi <= 8

    def test_offsets_strictly_increasing(self, docs):
        bad = docs.select(
            F.exists(
                F.zip_with(
                    "spans",
                    F.slice("spans", 2, 100),
                    lambda a, b: b["offset"] <= a["offset"],
                ),
                lambda x: x,
            ).alias("bad")
        ).filter("bad")
        assert bad.count() == 0

    def test_geom_span_fraction(self, docs):
        frac = (
            docs.select(
                F.exists("spans", lambda s: s["kind"] == "geom").cast("int").alias("g")
            )
            .agg(F.avg("g"))
            .first()[0]
        )
        assert 0.7 < frac < 0.9  # ~80% per FIXTURES.md

    def test_kinds_valid(self, docs):
        kinds = (
            docs.select(F.explode("spans").alias("s"))
            .select(F.col("s.kind"))
            .distinct()
            .collect()
        )
        assert {r.kind for r in kinds} <= {"text", "media", "geom"}

    def test_determinism_across_partitioning(self, spark):
        a = synth.synthesize_documents(spark, 200, seed=42, partitions=1)
        b = synth.synthesize_documents(spark, 200, seed=42, partitions=7)
        assert span_sequence_violations(a, b).count() == 0

    def test_seed_changes_output(self, spark):
        a = synth.synthesize_documents(spark, 100, seed=42)
        b = synth.synthesize_documents(spark, 100, seed=43)
        assert span_sequence_violations(a, b).count() > 0

    def test_wkt_all_parseable(self, docs):
        wkts = (
            docs.select(F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "geom")
            .select(F.col("s.text").alias("wkt"))
            .collect()
        )
        assert len(wkts) > 300
        seen = set()
        for r in wkts:
            gt, coords, struct = W.parse_wkt(r.wkt)
            seen.add(gt)
            assert coords.shape[0] >= 1
            assert np.isfinite(coords).all()
            if gt in (W.GT_POLYGON, W.GT_MULTIPOLYGON):
                i = 0
                for part in struct:
                    for n in part:
                        ring = coords[i : i + n]
                        assert (ring[0] == ring[-1]).all(), "ring not closed"
                        i += n
        assert seen >= {W.GT_POINT, W.GT_LINESTRING, W.GT_POLYGON}

    def test_invariant_checker_detects_mutation(self, spark, docs):
        mutated = docs.withColumn(
            "spans",
            F.when(
                F.col("doc_id") == "doc-000000000003",
                F.slice("spans", 1, 1),
            ).otherwise(F.col("spans")),
        )
        # doc 3 has >1 span with p≈1; if it has exactly 1 this is a no-op
        n3 = docs.filter(F.col("doc_id") == "doc-000000000003").select(F.size("spans")).first()[0]
        if n3 > 1:
            with pytest.raises(AssertionError):
                assert_span_sequence_equal(docs, mutated)
        assert_span_sequence_equal(docs, docs)


class TestWktCodec:
    @pytest.mark.parametrize(
        "wkt",
        [
            "POINT (1.500000 -2.250000)",
            "LINESTRING (0.000000 0.000000, 1.000000 1.000000, 2.000000 0.500000)",
            "POLYGON ((0.000000 0.000000, 4.000000 0.000000, 4.000000 4.000000, 0.000000 0.000000))",
            "POLYGON ((0.000000 0.000000, 8.000000 0.000000, 8.000000 8.000000, 0.000000 0.000000), (1.000000 1.000000, 2.000000 1.000000, 2.000000 2.000000, 1.000000 1.000000))",
            "MULTIPOINT (1.000000 2.000000, 3.000000 4.000000)",
            "MULTILINESTRING ((0.000000 0.000000, 1.000000 1.000000), (2.000000 2.000000, 3.000000 3.000000))",
            "MULTIPOLYGON (((0.000000 0.000000, 1.000000 0.000000, 1.000000 1.000000, 0.000000 0.000000)), ((5.000000 5.000000, 6.000000 5.000000, 6.000000 6.000000, 5.000000 5.000000)))",
        ],
    )
    def test_roundtrip(self, wkt):
        gt, coords, struct = W.parse_wkt(wkt)
        assert W.format_wkt(gt, coords, struct) == wkt

    def test_bbox(self):
        lo_x, lo_y, hi_x, hi_y = W.wkt_bbox("LINESTRING (1 5, -3 2, 4 -1)")
        assert (lo_x, lo_y, hi_x, hi_y) == (-3.0, -1.0, 4.0, 5.0)


class TestJoinSides:
    def test_polygons(self, spark):
        polys = synth.synthesize_polygons(spark, 50, seed=42).collect()
        assert len(polys) == 50
        for r in polys[:10]:
            gt, coords, struct = W.parse_wkt(r.geom_wkt)
            assert gt == W.GT_POLYGON
        # first three are hotspot giants
        _, c0, _ = W.parse_wkt(polys[0].geom_wkt)
        assert (c0[:, 0].max() - c0[:, 0].min()) > 3.0

    def test_knn_queries(self, spark):
        q = synth.synthesize_knn_queries(spark, 30, seed=42)
        rows = q.collect()
        assert len(rows) == 30
        assert {r.k for r in rows} == {1, 5, 50}
        assert all(synth.BBOX[0] <= r.lon <= synth.BBOX[2] for r in rows)

    def test_raster_pyramid(self, spark):
        t = synth.synthesize_raster_tiles(spark, max_z=4, seed=42).cache()
        rows = t.collect()
        assert any(r.z == 0 for r in rows) and any(r.z == 4 for r in rows)
        for r in rows:
            assert r.qk_max - r.qk_min == 4 ** (synth.TM.MAX_ZOOM - r.z)
            assert len(r.quadkey) == r.z
        # parent range contains child range (prefix property)
        z1 = [r for r in rows if r.z == 1]
        z2 = [r for r in rows if r.z == 2]
        for c in z2:
            parents = [p for p in z1 if p.qk_min <= c.qk_min and c.qk_max <= p.qk_max]
            assert len(parents) == 1
            assert c.quadkey.startswith(parents[0].quadkey)


class TestFeatureBatchGuards:
    def test_odd_token_rows_fall_back_to_structural_parse(self):
        """A 3D/stray-token WKT row must not silently misalign the
        vectorized even/odd coordinate split for rows after it."""
        import pandas as pd
        import pytest as _pytest

        from maplibre_tile_spec_spark.operators.features import _parse_batch

        good = "LINESTRING (1 2, 3 4)"
        bad = "LINESTRING (1 2, 3 4 9)"  # stray token: odd count
        pdf = pd.DataFrame(
            {"doc_id": ["a", "b"], "span_offset": [0, 0], "wkt": [bad, good]}
        )
        # the structural parser raises loudly on the 3D row instead of
        # corrupting the batch (coords no longer reshape to [n,2])
        with _pytest.raises(Exception):
            _parse_batch(pdf)

    def test_offsetting_token_errors_in_two_rows_raise(self):
        """One row with an extra token and one with a missing token leave
        the batch total right; the per-row check must still send both to
        the structural parser instead of shifting row 1's coordinates."""
        import pandas as pd

        from maplibre_tile_spec_spark.operators.features import _parse_batch

        pdf = pd.DataFrame(
            {
                "doc_id": ["a", "b", "c"],
                "span_offset": [0, 0, 0],
                "wkt": ["LINESTRING (1 2, 3 4 9)", "LINESTRING (5 6, 7)", "LINESTRING (10 20, 30 40)"],
            }
        )
        with pytest.raises(ValueError):
            _parse_batch(pdf)

    def test_even_mixed_batch_unaffected(self):
        import pandas as pd

        from maplibre_tile_spec_spark.operators.features import _parse_batch

        pdf = pd.DataFrame(
            {
                "doc_id": ["a", "b"],
                "span_offset": [0, 0],
                "wkt": ["LINESTRING (1 2, 3 4)", "POINT (5 6)"],
            }
        )
        out = _parse_batch(pdf)
        assert out.loc[0, "rep_lon"] == 1.0 and out.loc[0, "lat_max"] == 4.0
        assert out.loc[1, "rep_lon"] == 5.0

    def test_exponent_points_match_structural_parse(self):
        import pandas as pd

        from maplibre_tile_spec_spark.operators.features import _parse_batch

        wkts = ["POINT (1e-05 2.5)", "POINT (-3.5E+1 40)", "point(7 -1.25e2)", "POINT (5 6)"]
        pdf = pd.DataFrame({"doc_id": list("abcd"), "span_offset": [0] * 4, "wkt": wkts})
        out = _parse_batch(pdf)
        for i, w in enumerate(wkts):
            _gt, coords, _s = W.parse_wkt(w)
            x, y = coords[0]
            assert out.loc[i, ["rep_lon", "rep_lat"]].tolist() == [x, y]
            assert out.loc[i, ["lon_min", "lat_min", "lon_max", "lat_max"]].tolist() == [x, y, x, y]

    @pytest.mark.parametrize("bad", ["POINT EMPTY", "POINT Z (1 2 3)", "POINT (1 2 3)"])
    def test_unreadable_point_rows_raise(self, bad):
        import pandas as pd

        from maplibre_tile_spec_spark.operators.features import _parse_batch

        pdf = pd.DataFrame({"doc_id": ["a", "b"], "span_offset": [0, 0], "wkt": ["POINT (1 2)", bad]})
        with pytest.raises((ValueError, KeyError)):
            _parse_batch(pdf)

    def test_exponent_point_lands_in_its_decimal_twins_tile(self, spark):
        """A NaN rep point becomes NULL in Spark, and the tile math's
        greatest/least skip NULL: the feature used to land in tile
        (2^z-1, 2^z-1) instead of its own."""
        from maplibre_tile_spec_spark.operators.features import extract_features
        from maplibre_tile_spec_spark.operators.tiler import encode_tiles

        wkts = ["POINT (1e-05 2.5)", "POINT (0.00001 2.5)", "POINT (-3.5E+1 40)", "POINT (-35 40)"]
        docs = spark.createDataFrame(
            [(f"d{i}", [("geom", w, "", 0)]) for i, w in enumerate(wkts)],
            "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
        )
        tiles = {(r.x, r.y): r.n_features for r in encode_tiles(extract_features(docs), 3).collect()}
        assert tiles == {(4, 3): 2, (3, 3): 2}
