"""ring_metrics: known-value measures, orientation sign, auto-close,
degenerate handling, and the zero-exchange plan claim."""

from __future__ import annotations

import math

from htrc_ingester_spark.operators.ringstats import ring_metrics

_SCHEMA = "poly_id string, vertices array<struct<lon: double, lat: double>>"


def _one(spark, verts):
    df = spark.createDataFrame([("p", verts)], _SCHEMA)
    return ring_metrics(df).collect()[0]


class TestRingMetrics:
    def test_unit_square_ccw(self, spark):
        r = _one(spark, [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)])
        assert r.signed_area == 4.0 and r.area == 4.0
        assert r.perimeter == 8.0
        assert (r.centroid_lon, r.centroid_lat) == (1.0, 1.0)

    def test_cw_flips_sign_only(self, spark):
        r = _one(spark, [(0.0, 0.0), (0.0, 2.0), (2.0, 2.0), (2.0, 0.0), (0.0, 0.0)])
        assert r.signed_area == -4.0 and r.area == 4.0
        assert (r.centroid_lon, r.centroid_lat) == (1.0, 1.0)

    def test_open_ring_auto_closed(self, spark):
        r = _one(spark, [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)])
        assert r.area == 4.0 and r.perimeter == 8.0

    def test_triangle_centroid(self, spark):
        r = _one(spark, [(0.0, 0.0), (3.0, 0.0), (0.0, 3.0), (0.0, 0.0)])
        assert r.area == 4.5
        assert math.isclose(r.centroid_lon, 1.0) and math.isclose(r.centroid_lat, 1.0)
        assert math.isclose(r.perimeter, 6.0 + 3.0 * math.sqrt(2.0))

    def test_degenerate_zero_area_null_centroid(self, spark):
        r = _one(spark, [(1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (1.0, 1.0)])
        assert r.area == 0.0 and r.centroid_lon is None and r.centroid_lat is None

    def test_zero_exchange_plan(self, spark):
        """The whole point of the HOF formulation: measuring rings is a
        map-only scan — no Exchange in the optimized plan."""
        df = spark.createDataFrame(
            [("p", [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0)])], _SCHEMA
        )
        plan = ring_metrics(df)._jdf.queryExecution().optimizedPlan().toString()
        assert "Exchange" not in plan and "exchange" not in plan

    def test_tiny_negative_rounds_to_positive_zero_in_both_dialects(self, spark):
        """A clockwise ring 2e-7 on a side just west/south of the origin:
        its signed area and centroid round (6 places) to zero from the
        negative side. DuckDB's round() alone yields -0.0 where Spark's
        yields +0.0, which fails a bit-level hash; both must give +0.0."""
        import duckdb

        from htrc_ingester_spark.operators.ringstats import ring_metrics_oracle_sql

        d = 2e-7
        verts = [(0.0, 0.0), (0.0, -d), (-d, -d), (-d, 0.0), (0.0, 0.0)]
        cols = ("signed_area", "area", "centroid_lon", "centroid_lat")
        got = ring_metrics(
            spark.createDataFrame([("p", verts)], _SCHEMA), round_to=6
        ).collect()[0]
        vals = ", ".join(
            f"('p', 0, {i}, cast('{x!r}' as double), cast('{y!r}' as double))"
            for i, (x, y) in enumerate(verts)
        )
        rel = f"(select * from (values {vals}) as t(poly_id, ring_idx, pt_idx, lon, lat))"
        want = duckdb.sql(ring_metrics_oracle_sql(rel, round_to=6)).df().iloc[0]
        for c in cols:
            assert getattr(got, c) == 0.0 and math.copysign(1.0, getattr(got, c)) == 1.0, c
            assert want[c] == 0.0 and math.copysign(1.0, want[c]) == 1.0, c
