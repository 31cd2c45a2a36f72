"""bbox_intersect_join vs a numpy brute-force oracle + dedup-free plan
checks."""

import numpy as np
import pandas as pd
import pytest

from htrc_ingester_spark.operators.bbox_join import auto_res, bbox_cells, bbox_intersect_join


def _boxes_pdf(n, seed, idp=""):
    rng = np.random.default_rng(seed)
    # cluster 70% of boxes so intersections are plentiful; sizes vary
    # over two orders of magnitude to stress auto_res
    cx = np.where(rng.random(n) < 0.7, rng.normal(10.0, 2.0, n), rng.uniform(-179, 179, n))
    cy = np.where(rng.random(n) < 0.7, rng.normal(45.0, 2.0, n), rng.uniform(-89, 89, n))
    w = rng.uniform(0.05, 5.0, n)
    h = rng.uniform(0.05, 3.0, n)
    return pd.DataFrame(
        {
            "id": [f"{idp}{i}" for i in range(n)],
            "lon_min": np.maximum(cx - w, -180.0),
            "lat_min": np.maximum(cy - h, -90.0),
            "lon_max": np.minimum(cx + w, 180.0),
            "lat_max": np.minimum(cy + h, 90.0),
        }
    )


def _brute(a, b):
    out = set()
    for ra in a.itertuples(index=False):
        for rb in b.itertuples(index=False):
            if (
                ra.lon_min <= rb.lon_max
                and rb.lon_min <= ra.lon_max
                and ra.lat_min <= rb.lat_max
                and rb.lat_min <= ra.lat_max
            ):
                out.add((ra.id, rb.id))
    return out


class TestBBoxJoin:
    def test_matches_bruteforce_auto_and_explicit_res(self, spark):
        a_pdf, b_pdf = _boxes_pdf(220, 1, "a"), _boxes_pdf(180, 2, "b")
        a, b = spark.createDataFrame(a_pdf), spark.createDataFrame(b_pdf)
        want = _brute(a_pdf, b_pdf)
        got_auto = bbox_intersect_join(spark, a, b).select("a_id", "b_id").collect()
        pairs_auto = {(r["a_id"], r["b_id"]) for r in got_auto}
        assert len(got_auto) == len(pairs_auto), "duplicate pairs emitted"
        assert pairs_auto == want
        # explicit res (coarser AND finer than auto) — identical output
        r = auto_res(a, b)
        for rr in [max(r - 2, 0), r + 2]:
            got = bbox_intersect_join(spark, a, b, res=rr).select("a_id", "b_id").collect()
            assert {(x["a_id"], x["b_id"]) for x in got} == want, rr
            assert len(got) == len(want), rr

    def test_shared_edge_and_corner_count_once(self, spark):
        a = spark.createDataFrame(
            pd.DataFrame(
                {"id": ["a0"], "lon_min": [0.0], "lat_min": [0.0], "lon_max": [10.0], "lat_max": [10.0]}
            )
        )
        b = spark.createDataFrame(
            pd.DataFrame(
                {
                    "id": ["edge", "corner", "inside", "miss"],
                    "lon_min": [10.0, 10.0, 2.0, 10.001],
                    "lat_min": [0.0, 10.0, 2.0, 0.0],
                    "lon_max": [20.0, 20.0, 3.0, 20.0],
                    "lat_max": [10.0, 20.0, 3.0, 10.0],
                }
            )
        )
        rows = bbox_intersect_join(spark, a, b, res=5).select("b_id").collect()
        got = sorted(r["b_id"] for r in rows)
        assert got == ["corner", "edge", "inside"]

    def test_plan_no_distinct_no_window(self, spark):
        a = spark.createDataFrame(_boxes_pdf(50, 3, "a"))
        b = spark.createDataFrame(_boxes_pdf(50, 4, "b"))
        plan = (
            bbox_intersect_join(spark, a, b, res=6)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Deduplicate" not in plan and "Window" not in plan
        # the only aggregate anywhere would be a distinct — there is none
        assert "HashAggregate" not in plan and "SortAggregate" not in plan

    def test_degenerate_point_boxes(self, spark):
        # zero-area boxes behave as points; containment still matches
        a = spark.createDataFrame(
            pd.DataFrame(
                {"id": ["p"], "lon_min": [5.0], "lat_min": [5.0], "lon_max": [5.0], "lat_max": [5.0]}
            )
        )
        b = spark.createDataFrame(
            pd.DataFrame(
                {
                    "id": ["holds", "not"],
                    "lon_min": [0.0, 6.0],
                    "lat_min": [0.0, 6.0],
                    "lon_max": [10.0, 7.0],
                    "lat_max": [10.0, 7.0],
                }
            )
        )
        rows = bbox_intersect_join(spark, a, b, res=4).select("b_id").collect()
        assert [r["b_id"] for r in rows] == ["holds"]

    def test_antimeridian_box_raises_and_its_split_halves_match(self, spark):
        """A box with lon_min > lon_max crosses the antimeridian: the
        explode raises instead of covering the complement longitude band
        (which silently lost the pair), and the same box split into two
        rows upstream — the documented contract — matches once."""
        cols = "id int, lon_min double, lat_min double, lon_max double, lat_max double"
        b = spark.createDataFrame([(2, 175.0, 5.0, 176.0, 6.0)], cols)
        wrapped = spark.createDataFrame([(1, 170.0, 0.0, -170.0, 10.0)], cols)
        with pytest.raises(Exception, match="antimeridian"):
            bbox_intersect_join(spark, wrapped, b, res=3).collect()
        halves = spark.createDataFrame(
            [(1, 170.0, 0.0, 180.0, 10.0), (1, -180.0, 0.0, -170.0, 10.0)], cols
        )
        rows = bbox_intersect_join(spark, halves, b, res=3).select("a_id", "b_id").collect()
        assert [(r["a_id"], r["b_id"]) for r in rows] == [(1, 2)]

    def test_null_bounds_do_not_raise_and_match_nothing(self, spark):
        cols = "id int, lon_min double, lat_min double, lon_max double, lat_max double"
        a = spark.createDataFrame([(1, None, 0.0, 10.0, 10.0), (2, 0.0, 0.0, None, 10.0)], cols)
        b = spark.createDataFrame([(9, -180.0, -90.0, 180.0, 90.0)], cols)
        assert bbox_intersect_join(spark, a, b, res=3).count() == 0
        # the shared explode emits no cell for a box with any NULL bound
        # (the index clamp alone put such a bound on the grid edge)
        bounds = ("lon_min", "lat_min", "lon_max", "lat_max")
        for i in range(4):
            row = [1, 0.0, 0.0, 10.0, 10.0]
            row[1 + i] = None
            box = spark.createDataFrame([tuple(row)], cols)
            assert bbox_cells(box, *bounds, 3).count() == 0, bounds[i]

    def test_bbox_cells_match_cover_bboxes(self, spark):
        """The shared explode covers each box with exactly the cells of
        the numpy twin h3lite.cover_bboxes, at res 0..15 (random boxes
        that do not wrap, a few cells wide at their res)."""
        from htrc_ingester_spark.geo import h3lite as H

        rng = np.random.default_rng(11)
        n = 12
        for res in range(H.RES_MIN, H.RES_MAX + 1):
            w = np.minimum(H.cell_w_deg(res) * rng.uniform(0, 4, n), 300.0)
            h = np.minimum(H.cell_h_deg(res) * rng.uniform(0, 4, n), 150.0)
            lon0, lat0 = rng.uniform(-180, 180 - w), rng.uniform(-90, 90 - h)
            pdf = pd.DataFrame(
                {"box": np.arange(n), "lon_min": lon0, "lat_min": lat0,
                 "lon_max": lon0 + w, "lat_max": lat0 + h}
            )
            got = bbox_cells(
                spark.createDataFrame(pdf), "lon_min", "lat_min", "lon_max", "lat_max", res
            ).select("box", "cell").collect()
            cells, box = H.cover_bboxes(pdf.lon_min, pdf.lat_min, pdf.lon_max, pdf.lat_max, [res] * n)
            assert len(got) == len(cells), res
            assert {(r["box"], r["cell"]) for r in got} == set(zip(box.tolist(), cells.tolist())), res
