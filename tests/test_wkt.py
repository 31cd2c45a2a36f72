"""WKT / GeoJSON polygon ingestion (geo/wkt.py): exact round-trips,
parser robustness, and semantic equality of parsed vs original specs."""

from __future__ import annotations

import json

import numpy as np
import pytest

from htrc_ingester_spark import data
from htrc_ingester_spark.geo import geometry as G
from htrc_ingester_spark.geo.wkt import (
    polys_from_geojson,
    polys_from_geojson_file,
    polys_from_wkt,
    rings_to_wkt,
    wkt_to_rings,
)

pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")


class TestRoundTrip:
    def test_every_holes_fixture_roundtrips_exactly(self):
        """repr-float serialization must reproduce every ring list
        bit-for-bit, including the MultiPolygon-with-holes grouping."""
        parsed = dict(
            (p["poly_id"], p["rings"])
            for p in polys_from_wkt(data.polygons_holes_wkt())
        )
        for p in data.polygons_holes():
            want = [[(float(a), float(b)) for a, b in r] for r in p["rings"]]
            assert parsed[p["poly_id"]] == want

    def test_single_ring_polygons_roundtrip(self):
        for p in data.polygons():
            ring = [(float(a), float(b)) for a, b in p["ring"]]
            assert wkt_to_rings(rings_to_wkt([ring])) == [ring]

    def test_multipolygon_with_holes_grouping(self):
        shell1 = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
        hole1 = [(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0), (1.0, 1.0)]
        shell2 = [(10.0, 10.0), (11.0, 10.0), (11.0, 11.0), (10.0, 11.0), (10.0, 10.0)]
        wkt = rings_to_wkt([shell1, hole1, shell2], groups=[[0, 1], [2]])
        assert wkt.startswith("MULTIPOLYGON")
        assert wkt_to_rings(wkt) == [shell1, hole1, shell2]


class TestRoundTripFuzz:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _coord = st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    )
    _ring = st.lists(st.tuples(_coord, _coord), min_size=3, max_size=12)
    _rings = st.lists(_ring, min_size=1, max_size=5)
    _groups = st.integers(min_value=1, max_value=3)

    @given(rings=_rings)
    @settings(max_examples=200, deadline=None)
    def test_arbitrary_rings_roundtrip_bitexact(self, rings):
        """repr-float WKT serialization must reproduce ANY float64 ring
        list bit-for-bit (subnormals, negative zero, long mantissas)."""
        got = wkt_to_rings(rings_to_wkt(rings))
        assert got == [[(float(a), float(b)) for a, b in r] for r in rings]

    @given(rings=_rings, n_groups=_groups)
    @settings(max_examples=100, deadline=None)
    def test_grouped_multipolygon_roundtrip(self, rings, n_groups):
        """Any partition of the ring list into polygons parses back to
        the same FLAT list in document order (grouping is presentation,
        not semantics, under even-odd)."""
        n_groups = min(n_groups, len(rings))
        groups = [list(range(i, len(rings), n_groups)) for i in range(n_groups)]
        flat_order = [i for g in groups for i in g]
        got = wkt_to_rings(rings_to_wkt(rings, groups=groups))
        assert got == [
            [(float(a), float(b)) for a, b in rings[i]] for i in flat_order
        ]


class TestParserRobustness:
    def test_whitespace_case_and_scientific_notation(self):
        wkt = "  polygon ( ( 1e1 -2.5E-1 , 2e1 0.0,\n 15 5 , 1e1 -2.5e-1 ) ) "
        assert wkt_to_rings(wkt) == [
            [(10.0, -0.25), (20.0, 0.0), (15.0, 5.0), (10.0, -0.25)]
        ]

    def test_empty_geometries(self):
        assert wkt_to_rings("POLYGON EMPTY") == []
        assert wkt_to_rings("MULTIPOLYGON EMPTY") == []
        assert rings_to_wkt([]) == "POLYGON EMPTY"
        # empty geometries drop out of the spec list entirely
        assert polys_from_wkt([("a", "POLYGON EMPTY")]) == []

    def test_rejects_other_geometries_and_garbage(self):
        for bad in ("POINT (1 2)", "LINESTRING (0 0, 1 1)", "POLYGON Z ((0 0 0, 1 0 0, 1 1 0, 0 0 0))", "nonsense", "POLYGON ((0 0, 1 1)"):
            with pytest.raises(ValueError):
                wkt_to_rings(bad)

    def test_rejects_short_ring(self):
        with pytest.raises(ValueError):
            wkt_to_rings("POLYGON ((0 0, 1 1))")


class TestSemanticEquality:
    def test_even_odd_membership_preserved_through_wkt(self):
        """Point membership of the parsed flat ring list must equal the
        original spec everywhere — including inside holes, on islands,
        and across the antimeridian."""
        rng = np.random.default_rng(7)
        lon = rng.uniform(-180.0, 180.0, 4000)
        lat = rng.uniform(-60.0, 60.0, 4000)
        parsed = {p["poly_id"]: p for p in polys_from_wkt(data.polygons_holes_wkt())}
        for p in data.polygons_holes():
            a = G.points_in_rings(lon, lat, [np.asarray(r, float) for r in p["rings"]])
            b = G.points_in_rings(
                lon, lat, [np.asarray(r, float) for r in parsed[p["poly_id"]]["rings"]]
            )
            assert np.array_equal(a, b)


class TestGeoJSON:
    def _fc(self):
        return {
            "type": "FeatureCollection",
            "features": [
                {
                    "type": "Feature",
                    "properties": {"poly_id": "hole"},
                    "geometry": {
                        "type": "Polygon",
                        "coordinates": [
                            [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]],
                            [[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]],
                        ],
                    },
                },
                {
                    "type": "Feature",
                    "properties": {"poly_id": "multi"},
                    "geometry": {
                        "type": "MultiPolygon",
                        "coordinates": [
                            [[[10, 10], [11, 10], [11, 11], [10, 11], [10, 10]]],
                            [[[20, 20], [21, 20], [21, 21], [20, 21], [20, 20]]],
                        ],
                    },
                },
            ],
        }

    def test_feature_collection(self):
        polys = polys_from_geojson(self._fc())
        byid = {p["poly_id"]: p for p in polys}
        assert len(byid["hole"]["rings"]) == 2
        assert len(byid["multi"]["rings"]) == 2
        assert byid["hole"]["rings"][1][0] == (1.0, 1.0)

    def test_bare_geometry_and_feature_id_fallback(self):
        g = {"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 0]]]}
        assert polys_from_geojson(g)[0]["poly_id"] == "0"
        f = {"type": "Feature", "id": "f7", "properties": {}, "geometry": g}
        assert polys_from_geojson(f)[0]["poly_id"] == "f7"

    def test_third_coordinate_ignored(self):
        g = {"type": "Polygon", "coordinates": [[[0, 0, 5], [1, 0, 5], [1, 1, 5], [0, 0, 5]]]}
        assert polys_from_geojson(g)[0]["rings"][0][0] == (0.0, 0.0)

    def test_file_loader(self, tmp_path):
        p = tmp_path / "fc.geojson"
        p.write_text(json.dumps(self._fc()))
        assert {x["poly_id"] for x in polys_from_geojson_file(str(p))} == {"hole", "multi"}

    def test_unsupported_geometry_raises(self):
        with pytest.raises(ValueError):
            polys_from_geojson({"type": "Point", "coordinates": [0, 0]})

    def test_holes_fixture_geojson_roundtrips_exactly(self):
        parsed = {
            p["poly_id"]: p["rings"]
            for p in polys_from_geojson(data.polygons_holes_geojson())
        }
        for p in data.polygons_holes():
            want = [[(float(a), float(b)) for a, b in r] for r in p["rings"]]
            assert parsed[p["poly_id"]] == want


class TestSparkColumnIngestion:
    def test_wkt_column_to_pip_join_matches_direct_spec(self, spark):
        """End-to-end: WKT in a Spark string column → parsed spec →
        pip_join equals pip_join on the original dict spec."""
        from htrc_ingester_spark.geo.wkt import polys_from_wkt_column
        from htrc_ingester_spark.operators.pip_join import pip_join

        pdf = data.images_meta_pdf(300)
        pts = spark.createDataFrame(pdf[["image_id", "lon", "lat"]])
        wdf = spark.createDataFrame(
            data.polygons_holes_wkt(), "poly_id string, wkt string"
        )
        parsed = polys_from_wkt_column(wdf)
        a = (
            pip_join(spark, pts, data.polygons_holes(), res=7)
            .select("image_id", "poly_id").toPandas()
            .sort_values(["image_id", "poly_id"]).reset_index(drop=True)
        )
        b = (
            pip_join(spark, pts, parsed, res=7)
            .select("image_id", "poly_id").toPandas()
            .sort_values(["image_id", "poly_id"]).reset_index(drop=True)
        )
        assert a.equals(b)

    def test_column_collect_fails_past_budget(self, spark, monkeypatch):
        """The driver collect is bounded: at the budget it loads, one
        past it raises naming the distributed twin + pip_join_table."""
        from htrc_ingester_spark.geo.wkt import polys_from_wkt_column
        from htrc_ingester_spark.operators import pip_join

        wdf = spark.createDataFrame(
            data.polygons_holes_wkt(), "poly_id string, wkt string"
        )
        n = wdf.count()
        monkeypatch.setattr(pip_join, "_TABLE_POLYS_BUDGET", n)
        assert len(polys_from_wkt_column(wdf)) == n
        monkeypatch.setattr(pip_join, "_TABLE_POLYS_BUDGET", n - 1)
        with pytest.raises(ValueError, match="polys_df_from_wkt_column.*pip_join_table"):
            polys_from_wkt_column(wdf)

    def test_distributed_parse_matches_driver_parse(self, spark):
        """polys_df_from_wkt_column (executor-batch parse, the text
        scale path) must produce exactly the rings the driver-side
        parser produces — float64 bit-for-bit, empty geometries
        dropped on both paths."""
        from htrc_ingester_spark.geo.wkt import (
            polys_df_from_wkt_column,
            polys_from_wkt,
        )

        from htrc_ingester_spark.geo.wkb import wkb_to_rings

        rows = data.polygons_holes_wkt() + [("empty", "POLYGON EMPTY")]
        wdf = spark.createDataFrame(rows, "poly_id string, wkt string")
        # the output is the native binary wire, encoded in the same
        # batch pass (no second conversion hop): decoded, the same rings
        got = {
            r["poly_id"]: wkb_to_rings(bytes(r["wkb"]))
            for r in polys_df_from_wkt_column(wdf).collect()
        }
        want = {p["poly_id"]: p["rings"] for p in polys_from_wkt(rows)}
        assert got == want
        assert "empty" not in got

    def test_distributed_parse_feeds_pip_join_table(self, spark):
        """Text column → distributed parse → cover-as-table PIP equals
        the broadcast pip_join on the original dict spec — the
        composition a PostGIS-dump/CSV-export user runs at catalog
        scale, results identical to the driver regime."""
        from htrc_ingester_spark.geo.wkt import polys_df_from_wkt_column
        from htrc_ingester_spark.operators.pip_join import pip_join, pip_join_table

        pdf = data.images_meta_pdf(300)
        pts = spark.createDataFrame(pdf[["image_id", "lon", "lat"]])
        wdf = spark.createDataFrame(
            data.polygons_holes_wkt(), "poly_id string, wkt string"
        )
        a = (
            pip_join(spark, pts, data.polygons_holes(), res=7)
            .select("image_id", "poly_id").toPandas()
            .sort_values(["image_id", "poly_id"]).reset_index(drop=True)
        )
        b = (
            pip_join_table(spark, pts, polys_df_from_wkt_column(wdf), res=7)
            .select("image_id", "poly_id").toPandas()
            .sort_values(["image_id", "poly_id"]).reset_index(drop=True)
        )
        assert a.equals(b)
        assert len(a) > 0

    def test_malformed_wkt_fails_task_with_poly_id(self, spark):
        """Interchange corruption must surface (the reference's
        checksum-validate discipline), and name the offending row."""
        from htrc_ingester_spark.geo.wkt import polys_df_from_wkt_column

        rows = [
            ("good", data.polygons_holes_wkt()[0][1]),
            ("badrow", "POLYGON((not numbers))"),
        ]
        wdf = spark.createDataFrame(rows, "poly_id string, wkt string")
        with pytest.raises(Exception, match="badrow"):
            polys_df_from_wkt_column(wdf).collect()

    def test_null_geometry_fails_task_naming_row(self, spark):
        """A NULL geometry cell is catalog corruption: all three
        distributed decoders (WKT / WKB / GeoJSONL) must fail the task
        with the offending row named, not an opaque TypeError."""
        from htrc_ingester_spark.geo.wkb import polys_df_from_wkb_column
        from htrc_ingester_spark.geo.wkt import (
            polys_df_from_geojson_column,
            polys_df_from_wkt_column,
        )

        wdf = spark.createDataFrame(
            [("nullrow", None)], "poly_id string, wkt string"
        )
        with pytest.raises(Exception, match="nullrow.*NULL geometry"):
            polys_df_from_wkt_column(wdf).collect()
        bdf = spark.createDataFrame(
            [("nullrow", None)], "poly_id string, wkb binary"
        )
        with pytest.raises(Exception, match="nullrow.*NULL geometry"):
            polys_df_from_wkb_column(bdf).collect()
        fdf = spark.createDataFrame([(None,)], "feature string")
        with pytest.raises(Exception, match="NULL geometry"):
            polys_df_from_geojson_column(fdf).collect()


class TestGeoJSONLColumnIngestion:
    """polys_df_from_geojson_column — the newline-delimited-GeoJSON
    (one Feature JSON per row, the spark.read.text shape) executor-
    batch parser completing the WKB/WKT distributed ingest trio."""

    def _feature_rows(self):
        import json as _json

        fc = data.polygons_holes_geojson()
        return [_json.dumps(f) for f in fc["features"]]

    def test_distributed_parse_matches_driver_parse(self, spark):
        from htrc_ingester_spark.geo.wkt import (
            polys_df_from_geojson_column,
            polys_from_geojson,
        )

        from htrc_ingester_spark.geo.wkb import wkb_to_rings

        rows = [(r,) for r in self._feature_rows()]
        fdf = spark.createDataFrame(rows, "feature string")
        got = {
            r["poly_id"]: wkb_to_rings(bytes(r["wkb"]))
            for r in polys_df_from_geojson_column(fdf).collect()
        }
        want = {
            p["poly_id"]: p["rings"]
            for p in polys_from_geojson(data.polygons_holes_geojson())
        }
        assert got == want and len(got) > 0

    def test_distributed_parse_feeds_pip_join_table(self, spark):
        from htrc_ingester_spark.geo.wkt import polys_df_from_geojson_column
        from htrc_ingester_spark.operators.pip_join import pip_join, pip_join_table

        pdf = data.images_meta_pdf(300)
        pts = spark.createDataFrame(pdf[["image_id", "lon", "lat"]])
        fdf = spark.createDataFrame(
            [(r,) for r in self._feature_rows()], "feature string"
        )
        a = (
            pip_join(spark, pts, data.polygons_holes(), res=7)
            .select("image_id", "poly_id").toPandas()
            .sort_values(["image_id", "poly_id"]).reset_index(drop=True)
        )
        b = (
            pip_join_table(spark, pts, polys_df_from_geojson_column(fdf), res=7)
            .select("image_id", "poly_id").toPandas()
            .sort_values(["image_id", "poly_id"]).reset_index(drop=True)
        )
        assert a.equals(b)
        assert len(a) > 0

    def test_corruption_and_missing_id_fail_task(self, spark):
        """Malformed JSON, a Feature with no geometry, and a feature
        with no id anywhere must each fail the task naming the row —
        there is no stable positional index in a distributed scan."""
        from htrc_ingester_spark.geo.wkt import polys_df_from_geojson_column

        good = self._feature_rows()[0]
        for bad in (
            '{"type": "Feature", "geometry"',  # truncated JSON
            '{"type": "Feature", "properties": {"poly_id": "x"}}',  # no geometry
            '{"type": "Feature", "geometry": {"type": "Polygon", "coordinates": '
            "[[[0,0],[1,0],[1,1],[0,0]]]}}",  # no id anywhere
        ):
            fdf = spark.createDataFrame([(good,), (bad,)], "feature string")
            with pytest.raises(Exception, match="geojson row"):
                polys_df_from_geojson_column(fdf).collect()

    def test_id_col_fallback(self, spark):
        """A bare-geometry row takes its id from id_col when the
        feature itself carries none."""
        from htrc_ingester_spark.geo.wkt import polys_df_from_geojson_column

        geom = (
            '{"type": "Polygon", "coordinates": [[[0,0],[2,0],[2,2],[0,2],[0,0]]]}'
        )
        fdf = spark.createDataFrame(
            [("from_col", geom)], "row_id string, feature string"
        )
        out = polys_df_from_geojson_column(fdf, id_col="row_id").collect()
        assert [r["poly_id"] for r in out] == ["from_col"]

    def test_json_null_id_falls_through(self, spark):
        """A stored JSON null at properties[id_prop] or the feature
        'id' counts as MISSING (exporters commonly emit '\"id\": null')
        — the documented properties→id→id_col precedence must fall
        through it, not fail the job while a usable fallback exists."""
        from htrc_ingester_spark.geo.wkt import polys_df_from_geojson_column

        coords = '[[[0,0],[2,0],[2,2],[0,2],[0,0]]]'
        rows = [
            # properties[poly_id] is null → feature id wins
            (
                "colA",
                '{"type": "Feature", "id": "feat_id", "properties": '
                '{"poly_id": null}, "geometry": {"type": "Polygon", '
                f'"coordinates": {coords}}}}}',
            ),
            # both properties[poly_id] and id are null → id_col wins
            (
                "colB",
                '{"type": "Feature", "id": null, "properties": '
                '{"poly_id": null}, "geometry": {"type": "Polygon", '
                f'"coordinates": {coords}}}}}',
            ),
        ]
        fdf = spark.createDataFrame(rows, "row_id string, feature string")
        out = sorted(
            r["poly_id"]
            for r in polys_df_from_geojson_column(fdf, id_col="row_id").collect()
        )
        assert out == ["colB", "feat_id"]
        # and with NO id_col, the all-null row must still fail clearly
        fdf2 = spark.createDataFrame([(rows[1][1],)], "feature string")
        with pytest.raises(Exception, match="no id_col fallback"):
            polys_df_from_geojson_column(fdf2).collect()
