"""E2E Spark tests for PIP join, tile assignment, and kNN — each checked
against an independent pure-Python oracle (SURVEY.md §5.2 item 2)."""

import numpy as np
import pandas as pd
import pytest

from htrc_ingester_spark import data
from htrc_ingester_spark import functions as EF
from htrc_ingester_spark.geo import h3lite as H
from htrc_ingester_spark.operators.knn_join import knn_join, knn_join_bruteforce
from htrc_ingester_spark.operators.pip_join import build_cell_cover, pip_join
from htrc_ingester_spark.operators.tiles import assign_tiles

from .test_geo import oracle_point_in_ring

N_IMAGES = 1500


@pytest.fixture(scope="module")
def images_pdf():
    return data.images_meta_pdf(N_IMAGES, seed=42)


@pytest.fixture(scope="module")
def images_df(spark, images_pdf):
    return spark.createDataFrame(images_pdf).persist()


class TestPIPJoin:
    def test_matches_pure_python_oracle(self, spark, images_df, images_pdf):
        polys = data.polygons()
        got = (
            pip_join(spark, images_df, polys, res=7)
            .select("image_id", "poly_id")
            .toPandas()
            .sort_values(["image_id", "poly_id"])
            .reset_index(drop=True)
        )
        want_rows = []
        for p in polys:
            for r in images_pdf.itertuples(index=False):
                if oracle_point_in_ring(r.lon, r.lat, p["ring"]):
                    want_rows.append((r.image_id, p["poly_id"]))
        want = (
            pd.DataFrame(want_rows, columns=["image_id", "poly_id"])
            .sort_values(["image_id", "poly_id"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want)
        assert len(want) > 0  # fixture actually exercises containment

    def test_full_cells_exist_for_large_polygons(self):
        # polar cap at res 7 must classify interior cells as full —
        # otherwise the refine UDF sees O(area) instead of O(perimeter)
        polys = [p for p in data.polygons() if p["kind"] == "polar_cap"]
        cover = build_cell_cover(polys, 7)
        # area-weighted: a partial cell at res r covers 4^-r of the
        # grid, so refine traffic ∝ area, not row count (the adaptive
        # cover trades more rows for far less partial area)
        from htrc_ingester_spark.geo import h3lite as H

        res = H.cell_res(cover.cell.to_numpy()).astype(float)
        area = 4.0 ** (-res)
        frac_full_area = area[cover.full.to_numpy()].sum() / area.sum()
        assert frac_full_area > 0.95

    def test_full_and_partial_agree_with_oracle_everywhere(self, spark):
        # dense probe grid across one simple polygon's bbox: the
        # full-cell fast path must never contradict exact ray casting
        poly = [p for p in data.polygons() if p["poly_id"] == "poly_simple_0"][0]
        lon = np.linspace(-123.0, -121.8, 60)
        lat = np.linspace(37.2, 38.3, 60)
        gx, gy = np.meshgrid(lon, lat)
        pdf = pd.DataFrame(
            {"image_id": [f"g{i}" for i in range(gx.size)], "lon": gx.ravel(), "lat": gy.ravel()}
        )
        got = pip_join(spark, spark.createDataFrame(pdf), [poly], res=8).toPandas()
        got_ids = set(got.image_id)
        for r in pdf.itertuples(index=False):
            assert (r.image_id in got_ids) == oracle_point_in_ring(r.lon, r.lat, poly["ring"]), r

    def test_plan_is_broadcast_join_no_shuffle_of_points(self, spark, images_df):
        polys = data.polygons()
        plan = pip_join(spark, images_df, polys, res=7)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_int_poly_ids_survive_partial_cell_refine(self, spark):
        """The cover frame's poly_id column is StringType, so the refine
        broadcast dict must be keyed by str(pid) too — with raw int ids
        the KeyError only fired when a point landed in a PARTIAL cell
        (green smoke tests, intermittent production crash)."""
        pdf = pd.DataFrame(
            {"image_id": ["edge"], "lon": [0.999], "lat": [0.5]}
        )
        out = pip_join(
            spark,
            spark.createDataFrame(pdf),
            [{"poly_id": 7, "ring": [(0, 0), (1, 0), (1, 1), (0, 1)]}],
            res=4,
        ).toPandas()
        assert list(out["poly_id"]) == ["7"]

    def test_zero_vertex_ring_is_even_odd_noop(self, spark):
        """A 0-vertex ring in the spec (e.g. from upstream parsing) is
        an even-odd no-op: same cover, same matches, no IndexError in
        the cover kernels."""
        square = [(0, 0), (2, 0), (2, 2), (0, 2)]
        with_empty = [{"poly_id": "a", "rings": [square, []]}]
        plain = [{"poly_id": "a", "rings": [square]}]
        ca = build_cell_cover(with_empty, 6)
        cb = build_cell_cover(plain, 6)
        assert ca.sort_values(["cell"]).reset_index(drop=True).equals(
            cb.sort_values(["cell"]).reset_index(drop=True)
        )
        pdf = pd.DataFrame({"image_id": ["in"], "lon": [1.0], "lat": [1.0]})
        out = pip_join(spark, spark.createDataFrame(pdf), with_empty, res=5).toPandas()
        assert list(out["poly_id"]) == ["a"]

    def test_memo_key_distinguishes_ring_partitions(self, spark):
        """Two polygon sets with the SAME flat vertex walk but a
        different ring partition (one quad vs two 2-vertex segments)
        must not collide in the driver artifact memo — a collision
        silently reuses the wrong cover."""
        from htrc_ingester_spark.operators.pip_join import _polys_key

        v = [(0, 0), (2, 0), (2, 2), (0, 2)]
        quad = [{"poly_id": "p", "rings": [v]}]
        segs = [{"poly_id": "p", "rings": [v[:2], v[2:]]}]
        assert _polys_key(quad, 5, 9, "h3lite") != _polys_key(segs, 5, 9, "h3lite")
        # end-to-end: the quad matches its interior, the segment pair
        # (degenerate, even-odd no-ops) matches nothing — run back to
        # back in one session so a memo collision would surface
        pdf = pd.DataFrame({"image_id": ["in"], "lon": [1.0], "lat": [1.0]})
        pts = spark.createDataFrame(pdf)
        a = pip_join(spark, pts, quad, res=5).toPandas()
        b = pip_join(spark, pts, segs, res=5).toPandas()
        assert list(a["poly_id"]) == ["p"] and len(b) == 0


def oracle_point_in_rings(lon, lat, rings):
    """Independent even-odd multi-ring oracle: XOR of per-ring verdicts."""
    inside = False
    for ring in rings:
        inside ^= oracle_point_in_ring(lon, lat, ring)
    return inside


class TestPIPJoinHoles:
    def test_matches_pure_python_oracle_on_multi_ring_fixture(
        self, spark, images_df, images_pdf
    ):
        polys = data.polygons_holes()
        got = (
            pip_join(spark, images_df, polys, res=7)
            .select("image_id", "poly_id")
            .toPandas()
            .sort_values(["image_id", "poly_id"])
            .reset_index(drop=True)
        )
        want_rows = []
        for p in polys:
            for r in images_pdf.itertuples(index=False):
                if oracle_point_in_rings(r.lon, r.lat, p["rings"]):
                    want_rows.append((r.image_id, p["poly_id"]))
        want = (
            pd.DataFrame(want_rows, columns=["image_id", "poly_id"])
            .sort_values(["image_id", "poly_id"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want)
        # every fixture leg must actually match something AND exclude
        # something (the hot clusters put points in holes too)
        for p in polys:
            hits = set(want[want.poly_id == p["poly_id"]].image_id)
            assert len(hits) > 0, p["poly_id"]

    def test_hole_points_excluded_annulus_kept_island_reincluded(self, spark):
        # dense grid over the nested island fixture: shell ⊃ hole ⊃
        # island — in, out, in again (even-odd through 3 rings)
        poly = [p for p in data.polygons_holes() if p["kind"] == "nested"][0]
        clon, clat = data.HOT_CENTERS[1]
        lon = np.linspace(clon - 0.25, clon + 0.25, 51)
        lat = np.linspace(clat - 0.25, clat + 0.25, 51)
        gx, gy = np.meshgrid(lon, lat)
        pdf = pd.DataFrame(
            {"image_id": [f"g{i}" for i in range(gx.size)], "lon": gx.ravel(), "lat": gy.ravel()}
        )
        got_ids = set(
            pip_join(spark, spark.createDataFrame(pdf), [poly], res=8)
            .toPandas().image_id
        )
        n_in = n_out_hole = n_in_island = 0
        for r in pdf.itertuples(index=False):
            want = oracle_point_in_rings(r.lon, r.lat, poly["rings"])
            assert (r.image_id in got_ids) == want, r
            dx, dy = abs(r.lon - clon), abs(r.lat - clat)
            if max(dx, dy) < 0.028:
                n_in_island += 1
                assert want  # island core is IN again
            elif 0.035 < max(dx, dy) < 0.095:
                n_out_hole += 1
                assert not want  # lake (hole minus island) is OUT
            elif 0.105 < max(dx, dy) < 0.195:
                n_in += 1
                assert want  # annulus inside the shell is IN
        assert n_in and n_out_hole and n_in_island

    def test_cover_never_emits_full_cell_inside_hole(self):
        # a cell wholly inside the hole must be dropped (neither full
        # nor partial): the parity-corner classification at work
        poly = [p for p in data.polygons_holes() if p["kind"] == "shell_hole"][0]
        cover = build_cell_cover([poly], 7)
        cells = cover.cell.to_numpy()
        full = cover.full.to_numpy()
        res = H.cell_res(cells)
        clon, clat = data.HOT_CENTERS[0]
        for cell, isfull, r in zip(cells, full, res):
            lon0, lat0, lon1, lat1 = (
                float(v[0]) for v in H.cell_to_boundary(np.array([cell]))
            )
            # cell strictly inside the hole square (±0.05 around center)?
            if (
                lon0 > clon - 0.05 and lon1 < clon + 0.05
                and lat0 > clat - 0.05 and lat1 < clat + 0.05
            ):
                raise AssertionError(
                    f"cover emitted cell {cell} (res {r}, full={isfull}) inside the hole"
                )

    def test_antimeridian_hole(self, spark):
        poly = [p for p in data.polygons_holes() if p["kind"] == "anti_hole"][0]
        pdf = pd.DataFrame(
            {
                "image_id": ["in_shell_e", "in_shell_w", "in_hole_e", "in_hole_w", "outside"],
                "lon": [160.0, -160.0, 179.0, -179.0, 100.0],
                "lat": [-20.0, -20.0, -20.0, -20.0, -20.0],
            }
        )
        got = set(pip_join(spark, spark.createDataFrame(pdf), [poly], res=7).toPandas().image_id)
        assert got == {"in_shell_e", "in_shell_w"}


class TestTiles:
    def test_deterministic_and_sql_parity(self, spark, images_df, images_pdf):
        got = (
            assign_tiles(images_df, zoom_res=5, n_tiles=64)
            .select("image_id", "tile_id")
            .toPandas()
            .set_index("image_id")["tile_id"]
        )
        cells = H.latlng_to_cell(images_pdf.lat.to_numpy(), images_pdf.lon.to_numpy(), 5)
        want = EF.tile_id_np(cells, 64)
        np.testing.assert_array_equal(
            got.loc[images_pdf.image_id].to_numpy(), want
        )

    def test_parent_derivation_equals_direct_encode(self, spark, images_df):
        from pyspark.sql import functions as F

        df = images_df.withColumn("cell10", EF.h3_cell("lon", "lat", 10))
        a = assign_tiles(df, zoom_res=5, n_tiles=64, cell_col="cell10").select("image_id", "tile_id")
        b = assign_tiles(images_df, zoom_res=5, n_tiles=64).select("image_id", "tile_id")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    def test_duckdb_oracle_parity(self, images_pdf):
        import duckdb

        con = duckdb.connect()
        con.register("pts", images_pdf[["lon", "lat"]])
        cell_sql = H.h3_sql_expr("lon", "lat", 5)
        got = con.sql(
            f"select {EF.tile_sql_expr(cell_sql, 64, dialect='duckdb')} as t from pts"
        ).df()["t"]
        cells = H.latlng_to_cell(images_pdf.lat.to_numpy(), images_pdf.lon.to_numpy(), 5)
        np.testing.assert_array_equal(got.to_numpy(), EF.tile_id_np(cells, 64))


class TestKNN:
    def test_iterative_matches_bruteforce(self, spark, images_df):
        queries = data.knn_queries_pdf()
        got = knn_join(spark, images_df, queries, res=7).toPandas()
        want = knn_join_bruteforce(spark, images_df, queries).toPandas()
        g = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
        w = want.sort_values(["query_id", "rank"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(
            g[["query_id", "image_id", "rank"]], w[["query_id", "image_id", "rank"]]
        )
        np.testing.assert_allclose(g.dist_m, w.dist_m, rtol=1e-9)

    def test_tie_break_deterministic(self, spark):
        # two images exactly equidistant from the query → lower image_id wins
        pdf = pd.DataFrame(
            {
                "image_id": ["img_b", "img_a", "img_far"],
                "lon": [1.0, -1.0, 50.0],
                "lat": [0.0, 0.0, 0.0],
            }
        )
        q = pd.DataFrame({"query_id": ["q"], "lon": [0.0], "lat": [0.0], "k": [2]})
        got = knn_join(spark, spark.createDataFrame(pdf), q, res=7).toPandas()
        assert list(got.sort_values("rank").image_id) == ["img_a", "img_b"]

    def test_k_larger_than_dataset(self, spark):
        pdf = pd.DataFrame({"image_id": ["x", "y"], "lon": [0.0, 10.0], "lat": [0.0, 10.0]})
        q = pd.DataFrame({"query_id": ["q"], "lon": [0.0], "lat": [0.0], "k": [5]})
        got = knn_join(spark, spark.createDataFrame(pdf), q, res=5).toPandas()
        assert len(got) == 2

    def test_forces_multiple_ring_expansions(self, spark, images_df):
        # q_remote sits in empty ocean: ring 0/1 are empty, so a correct
        # result proves the expansion + termination logic
        q = pd.DataFrame({"query_id": ["q_remote"], "lon": [-45.0], "lat": [-60.0], "k": [5]})
        got = knn_join(spark, images_df, q, res=7).toPandas()
        want = knn_join_bruteforce(spark, images_df, q).toPandas()
        assert list(got.sort_values("rank").image_id) == list(want.sort_values("rank").image_id)


class TestRasterVector:
    def test_roundtrip_rings_recapture_their_points(self, spark):
        """vectorize(rasterize(points)) produces quad rings; PIP-joining
        the points back against those rings must assign every point
        (strictly inside its cell) to exactly its own cell's ring."""
        import numpy as np
        from pyspark.sql import functions as F

        from htrc_ingester_spark import data
        from htrc_ingester_spark.geo import h3lite as H
        from htrc_ingester_spark.operators.pip_join import pip_join
        from htrc_ingester_spark.operators.tiles import rasterize, vectorize

        res = 5
        pdf = data.images_meta_pdf(400)[["image_id", "lon", "lat"]]
        pts = spark.createDataFrame(pdf)
        raster = rasterize(pts, res=res)
        feats = vectorize(raster, threshold=5).collect()
        polys = [
            {"poly_id": str(r.poly_cell), "ring": [(p.lon, p.lat) for p in r.ring]}
            for r in feats
        ]
        kept = {int(r.poly_cell) for r in feats}
        hits = pip_join(spark, pts, polys, res=res).toPandas()
        got = dict(zip(hits.image_id, hits.poly_id.astype(np.int64)))
        # oracle: each point strictly inside its cell must hit its cell
        cells = H.latlng_to_cell(pdf.lat.to_numpy(), pdf.lon.to_numpy(), res)
        lon0, lat0, lon1, lat1 = H.cell_to_boundary(cells)
        eps = 1e-9
        interior = (
            (pdf.lon.to_numpy() > lon0 + eps) & (pdf.lon.to_numpy() < lon1 - eps)
            & (pdf.lat.to_numpy() > lat0 + eps) & (pdf.lat.to_numpy() < lat1 - eps)
        )
        n_checked = 0
        for i, iid in enumerate(pdf.image_id):
            if not interior[i]:
                continue
            if int(cells[i]) in kept:
                assert got.get(iid) == int(cells[i])
                n_checked += 1
            else:
                assert iid not in got
        assert n_checked > 100  # the hot clusters guarantee coverage

    def test_raster_patch_matches_counts(self, spark):
        from htrc_ingester_spark import data
        from htrc_ingester_spark.geo import h3lite as H
        from htrc_ingester_spark.operators.tiles import rasterize, raster_patch

        res = 4
        pdf = data.images_meta_pdf(300)[["image_id", "lon", "lat"]]
        pts = spark.createDataFrame(pdf)
        raster = rasterize(pts, res=res)
        # bbox around the SF hot cluster
        grid = raster_patch(raster, -125.0, 35.0, -120.0, 40.0, res)
        import numpy as np

        cells = H.latlng_to_cell(pdf.lat.to_numpy(), pdf.lon.to_numpy(), res)
        in_box = (
            (pdf.lon.to_numpy() >= -125.0) & (pdf.lon.to_numpy() < -120.0)
            & (pdf.lat.to_numpy() >= 35.0) & (pdf.lat.to_numpy() < 40.0)
        )
        # every in-box point's cell count appears in the patch
        assert grid.sum() >= in_box.sum() * 0.9  # bbox-cover cells ⊇ box
        assert grid.max() > 0


class TestKNNMany:
    def test_distributed_matches_bruteforce_and_driver_version(self, spark, images_df):
        from htrc_ingester_spark.operators.knn_join import knn_join_many

        qpdf = data.knn_queries_pdf()
        qdf = spark.createDataFrame(qpdf)
        got = knn_join_many(spark, images_df, qdf, res=7).toPandas()
        want = knn_join_bruteforce(spark, images_df, qpdf).toPandas()
        g = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
        w = want.sort_values(["query_id", "rank"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(
            g[["query_id", "image_id", "rank"]], w[["query_id", "image_id", "rank"]]
        )
        np.testing.assert_allclose(g.dist_m, w.dist_m, rtol=1e-9)

    def test_tie_break_deterministic(self, spark):
        from htrc_ingester_spark.operators.knn_join import knn_join_many

        pdf = pd.DataFrame(
            {"image_id": ["img_b", "img_a", "img_far"], "lon": [1.0, -1.0, 50.0], "lat": [0.0, 0.0, 0.0]}
        )
        q = spark.createDataFrame(pd.DataFrame({"query_id": ["q"], "lon": [0.0], "lat": [0.0], "k": [2]}))
        got = knn_join_many(spark, spark.createDataFrame(pdf), q, res=7).toPandas()
        assert list(got.sort_values("rank").image_id) == ["img_a", "img_b"]

    def test_sparse_region_query_exhausts_correctly(self, spark, images_df):
        from htrc_ingester_spark.operators.knn_join import knn_join_many

        q = spark.createDataFrame(
            pd.DataFrame({"query_id": ["q_remote"], "lon": [-45.0], "lat": [-60.0], "k": [5]})
        )
        got = knn_join_many(spark, images_df, q, res=7).toPandas()
        want = knn_join_bruteforce(
            spark, images_df, pd.DataFrame({"query_id": ["q_remote"], "lon": [-45.0], "lat": [-60.0], "k": [5]})
        ).toPandas()
        assert list(got.sort_values("rank").image_id) == list(want.sort_values("rank").image_id)


class TestKNNDispatch:
    def test_auto_dispatch_respects_custom_column_names(self, spark):
        """The knn_join wrapper must forward custom points-side
        lon/lat/id column names correctly into knn_join_many
        (regression: the dispatch once applied points-side names to the
        fixed query-frame columns)."""
        from htrc_ingester_spark.operators.knn_join import knn_join

        pdf = pd.DataFrame(
            {"pid": ["a", "b", "c"], "x": [0.1, 1.0, 50.0], "y": [0.0, 0.0, 0.0]}
        )
        pts = spark.createDataFrame(pdf)
        qp = pd.DataFrame({"query_id": ["q"], "lon": [0.0], "lat": [0.0], "k": [2]})
        got = knn_join(
            spark, pts, qp, res=7,
            id_col="pid", lon_col="x", lat_col="y",
        ).toPandas()
        assert list(got.sort_values("rank").image_id) == ["a", "b"]


class TestKNNAutoRes:
    def test_density_rule(self):
        """knn_auto_res: ~k/16 points per cell (cells = 2^(2·res+3)),
        clamped to the grid's res range; a pure perf knob — TestKNNMany
        and the catalog oracle pin that output is res-independent."""
        from htrc_ingester_spark.geo import h3lite as H
        from htrc_ingester_spark.operators.knn_join import knn_auto_res

        # the measured case: 15k global points, k=4 → res 6 (res 5 put
        # ~60×k candidates per query; 6 halved the self-kNN wall)
        assert knn_auto_res(15_000, k=4) == 6
        # monotone in n, anti-monotone in k
        rs = [knn_auto_res(n, k=4) for n in (100, 10_000, 1_000_000, 10**9)]
        assert rs == sorted(rs)
        assert knn_auto_res(15_000, k=64) <= knn_auto_res(15_000, k=4)
        # clamps
        assert knn_auto_res(0) == 5
        assert knn_auto_res(1) >= 0
        assert knn_auto_res(10**18) == H.RES_MAX


class TestKNNDuplicateRows:
    def test_all_three_variants_rank_duplicate_points_identically(self, spark):
        """Two distinct rows sharing an image_id are two points; every
        kNN variant must return both (no silent id-dedup) with
        identical ranking (regression: driver-state variant used to
        collapse them)."""
        from htrc_ingester_spark.operators.knn_join import knn_join_many

        pdf = pd.DataFrame(
            {
                "image_id": ["dup", "dup", "far"],
                "lon": [0.01, 0.01, 20.0],
                "lat": [0.0, 0.0, 0.0],
            }
        )
        q = pd.DataFrame({"query_id": ["q"], "lon": [0.0], "lat": [0.0], "k": [2]})
        df = spark.createDataFrame(pdf)
        a = knn_join(spark, df, q, res=7).toPandas().sort_values("rank")
        b = knn_join_bruteforce(spark, df, q).toPandas().sort_values("rank")
        c = knn_join_many(spark, df, spark.createDataFrame(q), res=7).toPandas().sort_values("rank")
        for got in (a, b, c):
            assert list(got.image_id) == ["dup", "dup"]
            assert list(got["rank"]) == [1, 2]


class TestKNNEdgeContracts:
    """r5 review regressions for knn_join_many / radius_anti_join."""

    def _pts(self, spark, n=60):
        pdf = data.images_meta_pdf(n, seed=7)
        return spark.createDataFrame(pdf[["image_id", "lon", "lat"]])

    def test_k_zero_query_yields_no_rows(self, spark):
        """k=0 must behave like the bruteforce twin (rank <= 0 → no
        rows) — pre-fix, topk2[k-1] evaluated index -1 and threw under
        ANSI, killing the whole job."""
        from htrc_ingester_spark.operators.knn_join import knn_join_many

        pts = self._pts(spark)
        qdf = spark.createDataFrame(
            [("z", 10.0, 10.0, 0), ("a", 10.0, 10.0, 2)],
            "query_id string, lon double, lat double, k int",
        )
        out = knn_join_many(spark, pts, qdf, res=5).toPandas()
        assert set(out.query_id) == {"a"}
        assert len(out[out.query_id == "a"]) == 2

    def test_duplicate_query_ids_raise(self, spark):
        from htrc_ingester_spark.operators.knn_join import knn_join_many

        pts = self._pts(spark)
        qdf = spark.createDataFrame(
            [("d", 10.0, 10.0, 2), ("d", -40.0, 0.0, 2)],
            "query_id string, lon double, lat double, k int",
        )
        with pytest.raises(ValueError, match="duplicate query_id"):
            knn_join_many(spark, pts, qdf, res=5)

    def test_max_rounds_exhaustion_raises_not_partial(self, spark):
        """An undersized max_rounds must raise, not silently emit a
        best-so-far topk indistinguishable from exact output."""
        from htrc_ingester_spark.operators.knn_join import knn_join_many

        pts = self._pts(spark)
        qdf = spark.createDataFrame(
            [("q", 10.0, 10.0, 5)], "query_id string, lon double, lat double, k int"
        )
        with pytest.raises(RuntimeError, match="max_rounds"):
            knn_join_many(spark, pts, qdf, res=12, max_rounds=1)

    def test_anti_join_excludes_null_id_points(self, spark):
        """A NULL-id point inside a buffer must be EXCLUDED (the
        documented clear-zone semantics) — plain == made the anti
        condition NULL and kept the row."""
        from htrc_ingester_spark.operators.knn_join import radius_anti_join

        pts = spark.createDataFrame(
            [(None, 10.0, 10.0), ("far", 60.0, -40.0)],
            "image_id string, lon double, lat double",
        )
        qdf = spark.createDataFrame(
            [("q", 10.0, 10.0)], "query_id string, lon double, lat double"
        )
        out = radius_anti_join(spark, pts, qdf, radius_m=50_000.0).toPandas()
        assert list(out.image_id) == ["far"]


class TestKxSqlTwin:
    def test_kx_sql_matches_numpy_twin(self, spark):
        """_kx_sql is the twin PRODUCTION executes (knn_join_many,
        radius_join); _required_kx_batch is the numpy twin the
        coverage-bound property test exercises. Pin them equal over a
        lat × r grid per res so a transcription slip in either cannot
        pass the suite (r5 review: the property test alone guarded
        code that never runs)."""
        from htrc_ingester_spark.operators.knn_join import (
            _kx_sql,
            _required_kx_batch,
        )

        lats = np.array(
            [-89.9, -66.5, -45.0, -12.3, 0.0, 7.7, 30.0, 59.9, 83.0, 89.9]
        )
        rs = np.array([1, 2, 4, 8, 16, 50])
        for res in (3, 5, 7):
            la, rr = (m.ravel() for m in np.meshgrid(lats, rs))
            ch = H.cell_h_deg(res)
            want = _required_kx_batch(
                rr * ch * H.M_PER_DEG_LAT, la, rr, res
            )
            pdf = pd.DataFrame(
                {"i": np.arange(len(la)), "lat": la, "r": rr.astype(int)}
            )
            rows = (
                spark.createDataFrame(pdf)
                .selectExpr("i", f"cast({_kx_sql('lat', 'r', res)} as int) as kx")
                .orderBy("i")
                .collect()
            )
            got = np.array([r2["kx"] for r2 in rows])
            assert (got == want).all(), f"res={res}: {got} != {want}"


class TestRadiusJoin:
    def test_matches_bruteforce_including_polar_and_antimeridian(self, spark, images_df):
        """radius_join (ST_DWithin analog) must return EXACTLY the
        brute-force haversine ball, including near-pole queries (full
        lon wrap) and antimeridian queries (disk wraps the seam)."""
        from pyspark.sql import functions as F

        from htrc_ingester_spark.functions import haversine_m
        from htrc_ingester_spark.operators.knn_join import radius_join

        qpdf = pd.DataFrame(
            {
                "query_id": ["q_sf", "q_anti", "q_polar"],
                "lon": [-122.42, 179.95, 10.0],
                "lat": [37.77, -16.5, 88.5],
            }
        )
        radius = 400_000.0
        got = radius_join(
            spark, images_df, spark.createDataFrame(qpdf), radius_m=radius, res=6
        ).toPandas()
        want = (
            images_df.crossJoin(
                F.broadcast(
                    spark.createDataFrame(qpdf).select(
                        "query_id",
                        F.col("lon").alias("q_lon"),
                        F.col("lat").alias("q_lat"),
                    )
                )
            )
            .withColumn("dist_m", haversine_m("q_lat", "q_lon", "lat", "lon"))
            .where(F.col("dist_m") <= radius)
            .select("query_id", F.col("image_id").cast("string").alias("image_id"), "dist_m")
            .toPandas()
        )
        g = got.sort_values(["query_id", "image_id"]).reset_index(drop=True)
        w = want.sort_values(["query_id", "image_id"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(
            g[["query_id", "image_id"]], w[["query_id", "image_id"]]
        )
        np.testing.assert_allclose(g.dist_m, w.dist_m, rtol=1e-12)

    def test_zero_and_global_radius(self, spark, images_df):
        from htrc_ingester_spark.operators.knn_join import radius_join

        q = spark.createDataFrame(
            pd.DataFrame({"query_id": ["q"], "lon": [0.0], "lat": [0.0]})
        )
        n_all = images_df.count()
        # half the circumference + slack covers the globe
        got_all = radius_join(spark, images_df, q, radius_m=2.1e7, res=5).count()
        assert got_all == n_all
        # tiny radius around an empty spot matches nothing
        q2 = spark.createDataFrame(
            pd.DataFrame({"query_id": ["q"], "lon": [-45.0], "lat": [-60.0]})
        )
        assert radius_join(spark, images_df, q2, radius_m=10.0, res=5).count() == 0

    def test_auto_res_bounds_disk_at_any_radius(self, spark, images_df):
        """VERDICT r2 #6: the default call site must stay under a cell
        budget for ANY radius — res derives from radius_m."""
        import math

        from htrc_ingester_spark.functions import haversine_m as hv
        from htrc_ingester_spark.geo import h3lite as HH
        from htrc_ingester_spark.operators.knn_join import (
            _RADIUS_TARGET_ROWS,
            radius_join,
            radius_res,
        )
        from pyspark.sql import functions as F

        for radius in (1_000.0, 50_000.0, 1_000_000.0, 5_000_000.0):
            res = radius_res(radius)
            ch_m = HH.cell_h_deg(res) * HH.M_PER_DEG_LAT
            r_rows = math.ceil(radius / ch_m)
            assert r_rows <= _RADIUS_TARGET_ROWS, (radius, res, r_rows)
            # within 2x of target (not wastefully coarse) unless clamped
            if res < HH.RES_MAX and res > 0:
                assert r_rows >= max(1, _RADIUS_TARGET_ROWS // 2 - 1), (radius, res)

        # brute-force parity retained at the default call site (1000 km)
        qpdf = pd.DataFrame(
            {"query_id": ["q_sf", "q_anti"], "lon": [-122.42, 179.95], "lat": [37.77, -16.5]}
        )
        radius = 1_000_000.0
        got = (
            radius_join(spark, images_df, spark.createDataFrame(qpdf), radius_m=radius)
            .toPandas().sort_values(["query_id", "image_id"]).reset_index(drop=True)
        )
        want = (
            images_df.crossJoin(
                F.broadcast(
                    spark.createDataFrame(qpdf).select(
                        "query_id", F.col("lon").alias("q_lon"), F.col("lat").alias("q_lat")
                    )
                )
            )
            .withColumn("dist_m", hv("q_lat", "q_lon", "lat", "lon"))
            .where(F.col("dist_m") <= radius)
            .select("query_id", F.col("image_id").cast("string").alias("image_id"), "dist_m")
            .toPandas().sort_values(["query_id", "image_id"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got[["query_id", "image_id"]], want[["query_id", "image_id"]])


class TestZonalStats:
    def test_matches_per_point_bruteforce(self, spark, images_df, images_pdf):
        from pyspark.sql import functions as F

        from htrc_ingester_spark.operators.zonal import zonal_stats

        polys = data.polygons()
        # fixture ids are strings 'imgNNN...' — derive a numeric value
        num = F.substring("image_id", 4, 12).cast("long")
        img = images_df.withColumn("val", (num % 13).cast("long"))
        got = (
            zonal_stats(spark, img, polys, "val", res=7)
            .toPandas()
            .sort_values("poly_id")
            .reset_index(drop=True)
        )
        # brute force from the pure-python PIP oracle
        ids_num = images_pdf["image_id"].str[3:].astype(np.int64)
        rows = []
        for p in polys:
            mask = np.array(
                [
                    oracle_point_in_ring(lo, la, p["ring"])
                    for lo, la in zip(images_pdf["lon"], images_pdf["lat"])
                ]
            )
            if not mask.any():
                continue
            vals = (ids_num.to_numpy()[mask] % 13).astype(np.int64)
            rows.append(
                {
                    "poly_id": p["poly_id"],
                    "n": int(mask.sum()),
                    "sum_val": int(vals.sum()),
                    "avg_val": float(vals.mean()),
                    "min_val": int(vals.min()),
                    "max_val": int(vals.max()),
                }
            )
        want = pd.DataFrame(rows).sort_values("poly_id").reset_index(drop=True)
        assert list(got["poly_id"]) == list(want["poly_id"])
        for c in ["n", "sum_val", "min_val", "max_val"]:
            assert list(got[c].astype(int)) == list(want[c].astype(int)), c
        assert np.allclose(got["avg_val"], want["avg_val"])

    def test_hole_excludes_values(self, spark):
        """A point inside a polygon's hole contributes to no zone."""
        from htrc_ingester_spark.operators.zonal import zonal_stats

        shell = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
        hole = [(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0), (1.0, 1.0)]
        polys = [{"poly_id": "donut", "rings": [shell, hole]}]
        pts = spark.createDataFrame(
            pd.DataFrame(
                {
                    "image_id": [1, 2, 3],
                    "lon": [0.5, 2.0, 3.5],  # in-shell, in-hole, in-shell
                    "lat": [0.5, 2.0, 3.5],
                    "val": [10, 100, 1],
                }
            )
        )
        got = zonal_stats(spark, pts, polys, "val", res=7).collect()
        assert len(got) == 1
        r = got[0]
        assert (r["poly_id"], r["n"], r["sum_val"], r["min_val"], r["max_val"]) == (
            "donut", 2, 11, 1, 10,
        )


class TestMosaicBest:
    def test_struct_max_equals_window_path(self, spark, images_df):
        from pyspark.sql import functions as F

        from htrc_ingester_spark.operators.tiles import assign_tiles, mosaic_best

        num = F.substring("image_id", 4, 12).cast("long")
        img = (
            images_df.select("image_id", "lon", "lat")
            .withColumn("nid", num)
            .withColumn("score", ((num * 7919 + 104729) % 50).cast("double"))
        )
        # numeric-id fast path
        fast = (
            mosaic_best(img.drop("image_id"), "score", id_col="nid", zoom_res=4, n_tiles=64)
            .toPandas().sort_values("tile_id").reset_index(drop=True)
        )
        # string id forces the window fallback; same ordering (zero-padded)
        slow = (
            mosaic_best(img.drop("nid"), "score", id_col="image_id", zoom_res=4, n_tiles=64)
            .toPandas().sort_values("tile_id").reset_index(drop=True)
        )
        assert list(fast["tile_id"]) == list(slow["tile_id"])
        assert [int(x[3:]) for x in slow["image_id"]] == list(fast["nid"])
        assert list(fast["score"]) == list(slow["score"])
        # argmax really is the max score per tile, min id among ties
        tiles_pdf = assign_tiles(img, zoom_res=4, n_tiles=64).toPandas()
        for tid, grp in tiles_pdf.groupby("tile_id"):
            best = grp[grp["score"] == grp["score"].max()]
            want_id = best["nid"].min()
            got_row = fast[fast["tile_id"] == tid]
            assert int(got_row["nid"].iloc[0]) == int(want_id)

    def test_no_sort_exchange_in_struct_max_plan(self, spark, images_df):
        """The numeric-id plan must be agg(+partial) — no window sort."""
        from pyspark.sql import functions as F

        from htrc_ingester_spark.operators.tiles import mosaic_best

        img = images_df.select("lon", "lat").withColumn(
            "nid", F.xxhash64("lon", "lat")
        ).withColumn("score", (F.col("nid") % 7).cast("double"))
        plan = (
            mosaic_best(img, "score", id_col="nid", zoom_res=4, n_tiles=64)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Window" not in plan
        assert "HashAggregate" in plan or "SortAggregate" in plan


class TestFocalStats:
    def _brute(self, cells, vals, radius=1):
        """Independent dict-based focal oracle: wrap x, clamp-drop y."""
        res = int(H.cell_res(cells[0]))
        nx_, ny_ = H.nx(res), H.ny(res)
        grid = {}
        for c, v in zip(cells, vals):
            x, y = H.cell_xy(np.int64(c))
            grid[(int(x), int(y))] = int(v)
        rows = []
        for (x, y), v in grid.items():
            neigh = []
            for dx in range(-radius, radius + 1):
                for dy in range(-radius, radius + 1):
                    yn = y + dy
                    if yn < 0 or yn >= ny_:
                        continue
                    xn = (x + dx) % nx_
                    if (xn, yn) in grid:
                        neigh.append(grid[(xn, yn)])
            rows.append(
                {
                    "cell": int(H.pack_xy(x, y, res)),
                    "value": v,
                    "focal_sum": sum(neigh),
                    "focal_n": len(neigh),
                    "focal_min": min(neigh),
                    "focal_max": max(neigh),
                    "focal_mean": sum(neigh) / len(neigh),
                }
            )
        return pd.DataFrame(rows).sort_values("cell").reset_index(drop=True)

    def test_matches_dict_bruteforce(self, spark, images_df):
        from htrc_ingester_spark.operators.tiles import focal_stats, rasterize

        r = rasterize(images_df, res=5)
        got = (
            focal_stats(r)
            .toPandas()
            .sort_values("cell")
            .reset_index(drop=True)
        )
        base = r.toPandas()
        want = self._brute(
            base["cell"].to_numpy(np.int64), base["value"].to_numpy(np.int64)
        )
        assert list(got["cell"]) == list(want["cell"])
        for c in ["value", "focal_sum", "focal_n", "focal_min", "focal_max"]:
            assert list(got[c].astype(int)) == list(want[c].astype(int)), c
        assert np.allclose(got["focal_mean"], want["focal_mean"])

    def test_antimeridian_wrap_and_pole_clamp(self, spark):
        from htrc_ingester_spark.operators.tiles import focal_stats

        res = 4
        nx_, ny_ = H.nx(res), H.ny(res)
        # two cells adjacent ACROSS the antimeridian (x=0 and x=nx-1),
        # one cell on the top (pole) row with a single diagonal friend
        cells = [
            int(H.pack_xy(0, 10, res)),
            int(H.pack_xy(nx_ - 1, 10, res)),
            int(H.pack_xy(5, ny_ - 1, res)),
            int(H.pack_xy(6, ny_ - 2, res)),
        ]
        pdf = pd.DataFrame({"cell": cells, "value": [1, 10, 100, 1000]})
        got = {
            r["cell"]: r
            for r in focal_stats(spark.createDataFrame(pdf)).collect()
        }
        assert got[cells[0]]["focal_sum"] == 11  # sees x=nx-1 via wrap
        assert got[cells[1]]["focal_sum"] == 11
        # pole-row cell: no wrap past the pole, sees itself + diagonal
        assert got[cells[2]]["focal_sum"] == 1100
        assert got[cells[2]]["focal_n"] == 2

    def test_radius_two_window(self, spark):
        from htrc_ingester_spark.operators.tiles import focal_stats

        res = 4
        cells = [int(H.pack_xy(10 + dx, 10, res)) for dx in range(-2, 3)]
        pdf = pd.DataFrame({"cell": cells, "value": [1, 2, 4, 8, 16]})
        got = {
            r["cell"]: r
            for r in focal_stats(spark.createDataFrame(pdf), radius=2).collect()
        }
        assert got[int(H.pack_xy(10, 10, res))]["focal_sum"] == 31
        assert got[int(H.pack_xy(8, 10, res))]["focal_sum"] == 7  # 1+2+4

    def test_plan_single_shuffle_no_join(self, spark, images_df):
        """Scatter form: exactly one exchange (the groupBy), no join."""
        from htrc_ingester_spark.operators.tiles import focal_stats, rasterize

        plan = (
            focal_stats(rasterize(images_df, res=5))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Join" not in plan
        # rasterize contributes one exchange, focal exactly one more
        assert plan.count("Exchange") == 2


class TestLocalOp:
    def test_inner_and_filled_outer(self, spark):
        from htrc_ingester_spark.operators.tiles import local_op

        a = spark.createDataFrame(pd.DataFrame({"cell": [1, 2, 3], "value": [10, 20, 30]}))
        b = spark.createDataFrame(pd.DataFrame({"cell": [2, 3, 4], "value": [1, 2, 3]}))
        inner = {
            r["cell"]: (r["value_a"], r["value_b"], r["value"])
            for r in local_op(a, b, lambda x, y: x - y).collect()
        }
        assert inner == {2: (20, 1, 19), 3: (30, 2, 28)}
        outer = {
            r["cell"]: (r["value_a"], r["value_b"], r["value"])
            for r in local_op(a, b, lambda x, y: x - y, fill=0).collect()
        }
        assert outer == {1: (10, 0, 10), 2: (20, 1, 19), 3: (30, 2, 28), 4: (0, 3, -3)}


class TestIDWInterpolate:
    def test_matches_bruteforce(self, spark, images_df, images_pdf):
        from pyspark.sql import functions as F

        from htrc_ingester_spark.operators.interpolate import idw_interpolate

        num = F.substring("image_id", 4, 12).cast("long")
        pts = images_df.withColumn("value", (num % 23).cast("double"))
        tgt = spark.createDataFrame(
            pd.DataFrame(
                {
                    "query_id": [str(i) for i in range(8)],
                    "lon": [-122.4, 2.3, 139.7, 0.0, 60.0, -60.0, 179.9, 10.0],
                    "lat": [37.7, 48.8, 35.7, 0.0, 30.0, -30.0, 0.0, 80.0],
                }
            )
        )
        R = 2_000_000.0
        got = {
            r["query_id"]: r
            for r in idw_interpolate(spark, pts, tgt, radius_m=R).collect()
        }
        # brute force
        import math

        def hav(lat1, lon1, lat2, lon2):
            r = math.radians
            return 2 * 6371008.8 * math.asin(
                math.sqrt(
                    math.sin((r(lat2) - r(lat1)) / 2) ** 2
                    + math.cos(r(lat1)) * math.cos(r(lat2)) * math.sin((r(lon2) - r(lon1)) / 2) ** 2
                )
            )

        vals = images_pdf["image_id"].str[3:].astype(np.int64) % 23
        for q in tgt.collect():
            num_s = den = 0.0
            n = 0
            nearest = None
            for (lo, la, v) in zip(images_pdf["lon"], images_pdf["lat"], vals):
                d = hav(q["lat"], q["lon"], la, lo)
                if d <= R:
                    w = 1.0 / max(d, 1.0) ** 2
                    num_s += w * float(v)
                    den += w
                    n += 1
                    nearest = d if nearest is None else min(nearest, d)
            if n == 0:
                assert q["query_id"] not in got
                continue
            r = got[q["query_id"]]
            assert r["n_support"] == n
            assert abs(r["idw_value"] - num_s / den) < 1e-9
            assert abs(r["nearest_m"] - nearest) < 1e-6

    def test_coincident_sample_no_nan(self, spark):
        from htrc_ingester_spark.operators.interpolate import idw_interpolate

        pts = spark.createDataFrame(
            pd.DataFrame(
                {
                    "image_id": ["a", "b"],
                    "lon": [10.0, 10.5],
                    "lat": [20.0, 20.0],
                    "value": [100.0, 0.0],
                }
            )
        )
        tgt = spark.createDataFrame(
            pd.DataFrame({"query_id": ["q"], "lon": [10.0], "lat": [20.0]})
        )
        r = idw_interpolate(spark, pts, tgt, radius_m=100_000.0).collect()[0]
        # the exact-hit sample dominates (d clamped to eps=1 m, the
        # other is ~52 km away) but the result is finite, near 100
        assert r["n_support"] == 2
        assert 99.9 < r["idw_value"] <= 100.0


class TestFocalStatsFuzz:
    @pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
    def test_random_sparse_grids(self, spark, seed):
        """Seeded fuzz: random sparse grids at random res (incl. edge
        rows/columns and negative values) vs the dict oracle."""
        from htrc_ingester_spark.operators.tiles import focal_stats

        rng = np.random.RandomState(seed)
        res = int(rng.randint(2, 6))
        n = int(rng.randint(1, 80))
        xs = rng.randint(0, H.nx(res), n)
        ys = rng.randint(0, H.ny(res), n)
        cells = np.unique(np.asarray(H.pack_xy(xs, ys, res), dtype=np.int64))
        vals = rng.randint(-50, 50, len(cells)).astype(np.int64)
        pdf = pd.DataFrame({"cell": cells, "value": vals})
        got = (
            focal_stats(spark.createDataFrame(pdf))
            .toPandas()
            .sort_values("cell")
            .reset_index(drop=True)
        )
        want = TestFocalStats._brute(TestFocalStats(), cells, vals)
        assert list(got["cell"]) == list(want["cell"])
        for c in ["value", "focal_sum", "focal_n", "focal_min", "focal_max"]:
            assert list(got[c].astype(int)) == list(want[c].astype(int)), (c, seed)
        assert np.allclose(got["focal_mean"], want["focal_mean"])


class TestCompactCells:
    def _roundtrip(self, spark, cells, res, min_res):
        from htrc_ingester_spark.operators.tiles import compact_cells, uncompact_cells

        df = spark.createDataFrame(pd.DataFrame({"cell": sorted(cells)}))
        comp = compact_cells(df, res=res, min_res=min_res).toPandas()
        back = uncompact_cells(spark.createDataFrame(comp), res=res).toPandas()
        assert set(back["cell"].astype(int)) == cells
        assert len(back) == len(cells)  # no duplicates either
        return comp

    def test_full_block_collapses_and_ragged_stays(self, spark):
        res = 5
        xs, ys = np.meshgrid(np.arange(8, 12), np.arange(8, 12))
        cells = {int(H.pack_xy(x, y, res)) for x, y in zip(xs.ravel(), ys.ravel())}
        cells.add(int(H.pack_xy(0, 0, res)))
        comp = self._roundtrip(spark, cells, res, min_res=2)
        # 16-cell quad -> one res-3 cell; the ragged cell survives at res 5
        assert len(comp) == 2
        assert sorted(H.cell_res(comp["cell"].to_numpy()).tolist()) == [3, 5]

    def test_minimality_no_complete_quad_remains(self, spark):
        rng = np.random.RandomState(5)
        res = 5
        xs = rng.randint(0, H.nx(res), 600)
        ys = rng.randint(0, H.ny(res), 600)
        cells = {int(c) for c in H.pack_xy(xs, ys, res)}
        comp = self._roundtrip(spark, cells, res, min_res=0)
        out = comp["cell"].to_numpy(np.int64)
        resv = H.cell_res(out)
        x, y = H.cell_xy(out)
        seen = set(zip(resv.tolist(), x.tolist(), y.tolist()))
        for r, cx, cy in seen:
            if r == 0:
                continue
            sibs = {(r, (cx // 2) * 2 + dx, (cy // 2) * 2 + dy)
                    for dx in (0, 1) for dy in (0, 1)}
            assert not sibs <= seen, (r, cx, cy)

    @pytest.mark.parametrize("seed", [0, 1, 2])
    def test_fuzz_roundtrip(self, spark, seed):
        rng = np.random.RandomState(seed)
        res = int(rng.randint(3, 7))
        # bias toward clustered cells so some quads actually complete
        base_x = rng.randint(0, H.nx(res) - 8)
        base_y = rng.randint(0, H.ny(res) - 8)
        xs = base_x + rng.randint(0, 8, 200)
        ys = base_y + rng.randint(0, 8, 200)
        cells = {int(c) for c in H.pack_xy(xs, ys, res)}
        comp = self._roundtrip(spark, cells, res, min_res=max(0, res - 4))
        assert len(comp) <= len(cells)

    def test_uncompact_identity_at_res(self, spark):
        from htrc_ingester_spark.operators.tiles import uncompact_cells

        res = 4
        cells = [int(H.pack_xy(1, 2, res)), int(H.pack_xy(7, 5, res))]
        out = uncompact_cells(
            spark.createDataFrame(pd.DataFrame({"cell": cells})), res=res
        ).toPandas()
        assert sorted(out["cell"].astype(int)) == sorted(cells)


def test_focal_window_wider_than_grid_counts_once(spark):
    """res-0 grid is 4 columns wide; a radius-2 window (width 5) must
    degrade to 'whole row' with each column counted exactly once, not
    double-counted through the wrap."""
    from htrc_ingester_spark.operators.tiles import focal_stats

    res = 0
    cells = [int(H.pack_xy(x, 0, res)) for x in range(4)]
    pdf = pd.DataFrame({"cell": cells, "value": [1, 2, 4, 8]})
    got = focal_stats(spark.createDataFrame(pdf), radius=2).collect()
    assert len(got) == 4
    for r in got:
        assert r["focal_sum"] == 15, r
        assert r["focal_n"] == 4


class TestMosaicPyramid:
    def test_each_level_equals_direct_argmax(self, spark):
        """Re-aggregating winners level-by-level == computing each
        level's argmax directly from the points (associativity of
        struct-max argmax) — the property that makes the pyramid a
        cells-sized rollup instead of #levels point scans."""
        from pyspark.sql import functions as F

        from htrc_ingester_spark.functions import h3_cell
        from htrc_ingester_spark.operators.tiles import mosaic_pyramid

        rng = np.random.RandomState(1)
        pdf = pd.DataFrame(
            {
                "nid": np.arange(2000, dtype=np.int64),
                "lon": rng.uniform(-179, 179, 2000),
                "lat": rng.uniform(-89, 89, 2000),
            }
        )
        pdf["score"] = ((pdf["nid"] * 7919 + 104729) % 97).astype(float)
        df = spark.createDataFrame(pdf)
        pyr = mosaic_pyramid(df, "score", "nid", res_min=2, res_max=5).toPandas()
        assert sorted(pyr["res"].unique()) == [2, 3, 4, 5]
        for r in range(2, 6):
            direct = (
                df.withColumn("cell", h3_cell("lon", "lat", r))
                .groupBy("cell")
                .agg(
                    F.max(
                        F.struct(F.col("score").alias("s"), (-F.col("nid")).alias("n"))
                    ).alias("b")
                )
                .select("cell", (-F.col("b.n")).alias("nid"), F.col("b.s").alias("score"))
                .toPandas()
                .sort_values("cell")
                .reset_index(drop=True)
            )
            lev = (
                pyr[pyr["res"] == r]
                .sort_values("cell")
                .reset_index(drop=True)[["cell", "nid", "score"]]
            )
            assert list(lev["cell"]) == list(direct["cell"]), r
            assert list(lev["nid"].astype(np.int64)) == list(direct["nid"].astype(np.int64)), r
            assert list(lev["score"]) == list(direct["score"]), r


class TestHotspotGi:
    def test_matches_numpy_bruteforce(self, spark, images_df):
        """Gi* z-scores equal an independent numpy computation over the
        dict-based focal window (wrap x, clamp y)."""
        from pyspark.sql import functions as F

        from htrc_ingester_spark.operators.tiles import hotspot_gi, rasterize

        r = rasterize(images_df, res=5)
        base = r.toPandas()
        got = (
            hotspot_gi(r)
            .toPandas()
            .sort_values("cell")
            .reset_index(drop=True)
        )
        res = 5
        nx_, ny_ = H.nx(res), H.ny(res)
        grid = {}
        for c, v in zip(base["cell"].to_numpy(np.int64), base["value"].to_numpy(np.int64)):
            x, y = H.cell_xy(np.int64(c))
            grid[(int(x), int(y))] = int(v)
        vals = np.array(list(grid.values()), dtype=float)
        n, mu, sigma = len(vals), vals.mean(), vals.std()  # population std
        rows = []
        for (x, y) in grid:
            neigh = [
                grid[((x + dx) % nx_, y + dy)]
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
                if 0 <= y + dy < ny_ and ((x + dx) % nx_, y + dy) in grid
            ]
            w = len(neigh)
            den = sigma * np.sqrt((n * w - w * w) / (n - 1))
            z = (sum(neigh) - mu * w) / den if (sigma > 0 and n > 1 and w < n) else None
            rows.append({"cell": int(H.pack_xy(x, y, res)), "z": z})
        want = pd.DataFrame(rows).sort_values("cell").reset_index(drop=True)
        assert list(got["cell"]) == list(want["cell"])
        assert got["gi_z"].notna().all()
        assert np.allclose(got["gi_z"], want["z"].astype(float))
        # the skewed fixture MUST produce at least one significant hot spot
        assert (got["is_hot"] == 1).any()
        # is_hot is exactly |z| >= 1.96
        assert (got["is_hot"] == (got["gi_z"].abs() >= 1.96).astype(int)).all()

    def test_degenerate_denominators_are_null(self, spark):
        from htrc_ingester_spark.operators.tiles import hotspot_gi

        res = 4
        # constant raster: sigma == 0 -> all null
        cells = [int(H.pack_xy(10 + i, 10, res)) for i in range(5)]
        const = spark.createDataFrame(
            pd.DataFrame({"cell": cells, "value": [7] * 5})
        )
        out = hotspot_gi(const).toPandas()
        assert out["gi_z"].isna().all() and out["is_hot"].isna().all()
        # two adjacent cells, distinct values: window covers all (w == n) -> null
        two = spark.createDataFrame(
            pd.DataFrame({"cell": cells[:2], "value": [1, 9]})
        )
        out2 = hotspot_gi(two).toPandas()
        assert out2["gi_z"].isna().all()
        # single cell -> n == 1 -> null
        one = spark.createDataFrame(pd.DataFrame({"cell": cells[:1], "value": [3]}))
        assert hotspot_gi(one).toPandas()["gi_z"].isna().all()

    def test_plan_adds_no_exchange_beyond_focal(self, spark, images_df):
        """The global stats ride a broadcast cross join: rasterize's
        exchange + focal's exchange + the 1-row agg's single-partition
        exchange, no shuffle join."""
        from htrc_ingester_spark.operators.tiles import hotspot_gi, rasterize

        plan = (
            hotspot_gi(rasterize(images_df, res=5))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastNestedLoopJoin" in plan
        assert "SortMergeJoin" not in plan


class TestKdeHeatmap:
    def test_matches_numpy_bruteforce(self, spark, images_df):
        from htrc_ingester_spark.operators.tiles import kde_heatmap, rasterize

        res, radius, sigma = 5, 2, 1.0
        r = rasterize(images_df, res=res)
        base = r.toPandas()
        got = (
            kde_heatmap(r, radius=radius, sigma=sigma)
            .toPandas()
            .sort_values("cell")
            .reset_index(drop=True)
        )
        nx_, ny_ = H.nx(res), H.ny(res)
        grid = {}
        for c, v in zip(base["cell"].to_numpy(np.int64), base["value"].to_numpy(np.int64)):
            x, y = H.cell_xy(np.int64(c))
            grid[(int(x), int(y))] = int(v)
        acc: dict[tuple[int, int], list[float]] = {}
        for (x, y), v in grid.items():
            for dx in range(-radius, radius + 1):
                for dy in range(-radius, radius + 1):
                    yn = y + dy
                    if yn < 0 or yn >= ny_:
                        continue
                    xn = (x + dx) % nx_
                    w = np.exp(-(dx * dx + dy * dy) / (2 * sigma * sigma))
                    acc.setdefault((xn, yn), []).append(v * w)
        want = (
            pd.DataFrame(
                {
                    "cell": [int(H.pack_xy(x, y, res)) for (x, y) in acc],
                    "kde": [float(np.sum(ws)) for ws in acc.values()],
                    "n_src": [len(ws) for ws in acc.values()],
                }
            )
            .sort_values("cell")
            .reset_index(drop=True)
        )
        assert list(got["cell"]) == list(want["cell"])
        assert list(got["n_src"].astype(int)) == list(want["n_src"].astype(int))
        assert np.allclose(got["kde"], want["kde"])
        # the halo is real: strictly more output cells than input cells
        assert len(got) > len(base)

    def test_plan_single_extra_exchange(self, spark, images_df):
        from htrc_ingester_spark.operators.tiles import kde_heatmap, rasterize

        plan = (
            kde_heatmap(rasterize(images_df, res=5))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Join" not in plan
        assert plan.count("Exchange") == 2  # rasterize + the scatter groupBy


class TestRadiusAntiJoin:
    def test_complement_of_radius_join(self, spark, images_df):
        from htrc_ingester_spark.operators.knn_join import radius_anti_join, radius_join

        q = spark.createDataFrame(
            pd.DataFrame(
                {"query_id": ["q0", "q1"], "lon": [-122.42, 2.35], "lat": [37.77, 48.86]}
            )
        )
        pts = images_df.select("image_id", "lon", "lat")
        r = 500_000.0
        inside = {
            row["image_id"]
            for row in radius_join(spark, pts, q, r).select("image_id").collect()
        }
        outside = {
            row["image_id"]
            for row in radius_anti_join(spark, pts, q, r).select("image_id").collect()
        }
        allids = {str(row["image_id"]) for row in pts.collect()}
        assert inside | outside == allids
        assert inside & outside == set()
        assert inside and outside  # fixture puts points on both sides

    def test_boundary_point_excluded(self, spark):
        from htrc_ingester_spark.operators.knn_join import radius_anti_join

        # a point EXACTLY at the radius is inside the buffer -> anti drops it
        q = spark.createDataFrame(pd.DataFrame({"query_id": ["q"], "lon": [0.0], "lat": [0.0]}))
        # 1 degree east on the equator — evaluated by Spark itself so the
        # boundary compare sees the bit-identical double
        from htrc_ingester_spark.functions import haversine_sql_expr

        d = float(
            spark.sql(
                f"select {haversine_sql_expr('0.0', '0.0', '0.0', '1.0')} as d"
            ).first()["d"]
        )
        pts = spark.createDataFrame(
            pd.DataFrame({"image_id": ["at", "beyond"], "lon": [1.0, 2.0], "lat": [0.0, 0.0]})
        )
        out = radius_anti_join(spark, pts, q, radius_m=d).collect()
        assert [r["image_id"] for r in out] == ["beyond"]


class TestCoverageGaps:
    def test_hand_computed_gaps(self, spark):
        """Box spanning exactly a 4x2 cell block at res 5 (cell = 360/
        128 = 2.8125 deg wide, 180/64 deg tall); points occupy 3 of the
        8 cells -> the other 5 come back as gaps."""
        from pyspark.sql import functions as F

        from htrc_ingester_spark.geo import h3lite as H
        from htrc_ingester_spark.operators.tiles import coverage_gaps

        res = 5
        cw, ch = 360.0 / H.nx(res), 180.0 / H.ny(res)
        # box = cells x in [64..67], y in [32..33] exactly
        box = spark.createDataFrame(
            [("b", 64 * cw - 180.0, 32 * ch - 90.0,
              (68 * cw - 180.0) - 1e-9, (34 * ch - 90.0) - 1e-9)],
            "poly_id string, lon_min double, lat_min double, lon_max double, lat_max double",
        )
        def center(x, y):
            return ((x + 0.5) * cw - 180.0, (y + 0.5) * ch - 90.0)
        occupied = [(64, 32), (65, 33), (67, 32)]
        pts = spark.createDataFrame(
            [center(x, y) for x, y in occupied], "lon double, lat double"
        )
        got = coverage_gaps(pts, box, res=res).toPandas()
        want_xy = {(x, y) for x in range(64, 68) for y in range(32, 34)} - set(occupied)
        want = {res * (1 << 56) + x * (1 << 28) + y for x, y in want_xy}
        assert set(got.cell) == want and set(got.poly_id) == {"b"}

    def test_full_coverage_yields_nothing(self, spark):
        from htrc_ingester_spark.geo import h3lite as H
        from htrc_ingester_spark.operators.tiles import coverage_gaps

        res = 4
        cw, ch = 360.0 / H.nx(res), 180.0 / H.ny(res)
        box = spark.createDataFrame(
            [("b", 0.0, 0.0, cw * 0.9, ch * 0.9)],
            "poly_id string, lon_min double, lat_min double, lon_max double, lat_max double",
        )
        pts = spark.createDataFrame([(cw * 0.5, ch * 0.5)], "lon double, lat double")
        assert coverage_gaps(pts, box, res=res).count() == 0

    def test_null_bound_box_reports_like_no_box(self, spark):
        """A box with a NULL bound covers no cell, so it reports the
        same gaps as no box at all (clamped to the grid edge, (NULL, 0,
        10, 10) reported 271 gap cells at res 5)."""
        from htrc_ingester_spark.operators.tiles import coverage_gaps

        schema = "poly_id string, lon_min double, lat_min double, lon_max double, lat_max double"
        pts = spark.createDataFrame([(5.0, 5.0)], "lon double, lat double")
        good = [("g", 0.0, 0.0, 10.0, 10.0)]
        nulls = [
            ("n0", None, 0.0, 10.0, 10.0),
            ("n1", 0.0, None, 10.0, 10.0),
            ("n2", 0.0, 0.0, None, 10.0),
            ("n3", 0.0, 0.0, 10.0, None),
        ]

        def gaps(rows):
            out = coverage_gaps(pts, spark.createDataFrame(rows, schema), res=5).collect()
            return sorted((r.poly_id, r.cell) for r in out)

        assert gaps(nulls) == []
        assert gaps(good + nulls) == gaps(good) != []


class TestGradient:
    def test_central_differences_and_null_rule(self, spark):
        from htrc_ingester_spark.operators.tiles import gradient

        res = 6  # nx=256, ny=128
        def pack(x, y):
            return res * (1 << 56) + x * (1 << 28) + y
        # plane v = 3x + 5y on a 3x3 block -> interior gx=3, gy=5
        rows = [
            (pack(10 + i, 20 + j), float(3 * i + 5 * j))
            for i in range(3)
            for j in range(3)
        ]
        got = {r.cell: r for r in gradient(
            spark.createDataFrame(rows, "cell long, value double")
        ).collect()}
        center = got[pack(11, 21)]
        assert (center.gx, center.gy) == (3.0, 5.0)
        import math
        assert abs(center.slope - math.hypot(3, 5)) < 1e-12
        assert abs(center.aspect - math.atan2(5, 3)) < 1e-12
        # edge cell: E/W both present only for the middle column
        edge = got[pack(10, 21)]  # no W neighbor
        assert edge.gx is None and edge.gy == 5.0 and edge.slope is None
        corner = got[pack(10, 20)]
        assert corner.gx is None and corner.gy is None and corner.aspect is None

    def test_antimeridian_wrap_pairs_columns(self, spark):
        from htrc_ingester_spark.operators.tiles import gradient

        res = 4  # nx=64
        def pack(x, y):
            return res * (1 << 56) + x * (1 << 28) + y
        # x=63 has E neighbor x=0 across the wrap and W neighbor x=62
        rows = [(pack(62, 5), 1.0), (pack(63, 5), 7.0), (pack(0, 5), 9.0)]
        got = {r.cell: r for r in gradient(
            spark.createDataFrame(rows, "cell long, value double")
        ).collect()}
        assert got[pack(63, 5)].gx == (9.0 - 1.0) / 2.0

    def test_flat_region_zero_slope_null_aspect(self, spark):
        from htrc_ingester_spark.operators.tiles import gradient

        res = 6
        def pack(x, y):
            return res * (1 << 56) + x * (1 << 28) + y
        rows = [(pack(10 + i, 20 + j), 4.0) for i in range(3) for j in range(3)]
        center = [
            r for r in gradient(
                spark.createDataFrame(rows, "cell long, value double")
            ).collect()
            if r.cell == pack(11, 21)
        ][0]
        assert center.slope == 0.0 and center.aspect is None


class TestTileSample:
    """tile_sample (operators/tiles.py): deterministic k-per-cell
    representative sampling — md5-keyed so the pick is unbiased,
    cluster-size independent, and replayable in plain SQL."""

    def _oracle(self, pdf, res, k):
        import hashlib

        cells = H.latlng_to_cell(pdf.lat.to_numpy(), pdf.lon.to_numpy(), res)
        rows = []
        for cell, iid in zip(cells, pdf.image_id):
            rk = hashlib.md5(f"sample:{iid}".encode()).hexdigest()[:16]
            rows.append((int(cell), rk, iid))
        out = {}
        for cell, rk, iid in sorted(rows, key=lambda t: (t[0], t[1], t[2])):
            got = out.setdefault(cell, [])
            if len(got) < k:
                got.append(iid)
        return {(c, iid, r + 1) for c, ids in out.items() for r, iid in enumerate(ids)}

    def test_matches_pure_python_oracle(self, spark, images_df, images_pdf):
        from htrc_ingester_spark.operators.tiles import tile_sample

        got = {
            (r.cell, r.image_id, r["rank"])
            for r in tile_sample(images_df, res=5, k=3).collect()
        }
        assert got == self._oracle(images_pdf, res=5, k=3)

    def test_deterministic_under_repartitioning(self, spark, images_df):
        from htrc_ingester_spark.operators.tiles import tile_sample

        a = tile_sample(images_df, res=5, k=2)
        b = tile_sample(images_df.repartition(13), res=5, k=2)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    def test_k_cap_and_rank_range(self, spark, images_df):
        from pyspark.sql import functions as F

        from htrc_ingester_spark.operators.tiles import tile_sample

        out = tile_sample(images_df, res=3, k=3)
        per_cell = out.groupBy("cell").count()
        assert per_cell.where(F.col("count") > 3).count() == 0
        assert out.where((F.col("rank") < 1) | (F.col("rank") > 3)).count() == 0

    def test_single_exchange(self, spark, images_df):
        from htrc_ingester_spark.operators.tiles import tile_sample

        plan = tile_sample(images_df, res=5, k=3)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1


class TestAdaptiveCells:
    """adaptive_cells quadtree decomposition: levels partition the
    points, non-leaf output cells are below threshold, every max-res
    leaf's coarser ancestors were hot."""

    def test_partition_and_threshold_invariants(self, spark, images_df, images_pdf):
        from htrc_ingester_spark.operators.tiles import adaptive_cells

        base, mx, thr = 3, 5, 120
        out = adaptive_cells(images_df, base, mx, thr).toPandas()
        assert out.n.sum() == len(images_pdf)          # levels partition
        assert (out[out.res < mx].n <= thr).all()      # stabilized cells
        # every emitted cell is unique
        assert out.cell.is_unique
        # leaves exist only under hot ancestors: recompute base-level
        # counts and check each max-res leaf's base cell was hot
        cells_b = H.latlng_to_cell(images_pdf.lat.to_numpy(), images_pdf.lon.to_numpy(), base)
        import collections

        base_counts = collections.Counter(cells_b.tolist())
        for c in out[out.res == mx].cell:
            x = (int(c) >> 28) & ((1 << 28) - 1)
            y = int(c) & ((1 << 28) - 1)
            shift = mx - base
            parent = base * (1 << 56) + (x >> shift) * (1 << 28) + (y >> shift)
            assert base_counts[parent] > thr

    def test_uniform_data_stays_coarse(self, spark):
        import pandas as pd

        rng = __import__("numpy").random.default_rng(3)
        pdf = pd.DataFrame(
            {
                "image_id": range(400),
                "lon": rng.uniform(-170, 170, 400),
                "lat": rng.uniform(-80, 80, 400),
            }
        )
        df = spark.createDataFrame(pdf)
        from htrc_ingester_spark.operators.tiles import adaptive_cells

        out = adaptive_cells(df, 2, 5, threshold=50).toPandas()
        assert (out.res == 2).all()  # nothing hot → no splitting


class TestBatchCoverKernel:
    """The cover kernel (_cover over _prep_rings) checked against the
    geometry it encodes, G.points_in_rings, on every fixture family:

    - corner parity (_cell_tests) equals points_in_rings at the corners
      of every cover cell;
    - every full cell's corners, centre and random interior points are
      inside its polygon;
    - every sampled inside point (uniform over the ring bboxes, plus
      jittered ring vertices) lies in a full or partial cell of its
      polygon, at one of the cover's levels."""

    @staticmethod
    def _sample(rings, rng, n=48):
        from htrc_ingester_spark.geo import geometry as G

        lon, lat = [], []
        for r in rings:
            r = np.asarray(r, dtype=np.float64).reshape(-1, 2)
            if len(r) < 3:
                continue
            lon0, lat0, lon1, lat1 = G.ring_bbox(r[:, 0], r[:, 1])
            w = lon1 - lon0 if lon1 >= lon0 else lon1 + 360.0 - lon0
            lon.append(lon0 + w * rng.random(n))
            lat.append(lat0 + (lat1 - lat0) * rng.random(n))
            jitter = rng.normal(0.0, 1e-6, (2, len(r)))
            lon.append(r[:, 0] + jitter[0])
            lat.append(np.clip(r[:, 1] + jitter[1], -90.0, 90.0))
        if not lon:
            return np.zeros(0), np.zeros(0)
        lon = np.concatenate(lon)
        return (lon + 180.0) % 360.0 - 180.0, np.concatenate(lat)

    @classmethod
    def _assert_sound(cls, rings_list, res, res_max, gap):
        from htrc_ingester_spark.geo import geometry as G
        from htrc_ingester_spark.operators import pip_join as PJ

        be = PJ.get_backend(None)
        rg = PJ._prep_rings(rings_list)
        cells, pidx, full = PJ._cover(rg, res, res_max, be, expand_gap=gap)
        assert len(set(zip(cells.tolist(), pidx.tolist()))) == len(cells)
        inside, _hit = PJ._cell_tests(cells, pidx, rg, be)
        c_lons, c_lats = be.cell_corners(cells)
        lon0, lat0, lon1, lat1 = H.cell_to_boundary(cells)
        levels = np.unique(be.cell_res(cells)).tolist()
        cover = set(zip(cells.tolist(), pidx.tolist()))
        rng = np.random.default_rng(5)
        for i, rings in enumerate(rings_list):
            rows = pidx == i
            want = G.points_in_rings(c_lons[rows].ravel(), c_lats[rows].ravel(), rings)
            assert (inside[rows].ravel() == want).all(), f"corner parity, polygon {i}"
            f = rows & full
            u, v = rng.random((2, int(f.sum()), 6))
            lon = np.concatenate([c_lons[f].ravel(), (lon0[f] + lon1[f]) / 2, (lon0[f, None] + u * (lon1 - lon0)[f, None]).ravel()])
            lat = np.concatenate([c_lats[f].ravel(), (lat0[f] + lat1[f]) / 2, (lat0[f, None] + v * (lat1 - lat0)[f, None]).ravel()])
            assert G.points_in_rings(lon, lat, rings).all(), f"full cell not inside, polygon {i}"
            lon, lat = cls._sample(rings, rng)
            ins = G.points_in_rings(lon, lat, rings)
            found = np.zeros(int(ins.sum()), dtype=bool)
            for r in levels:
                enc = np.atleast_1d(be.latlng_to_cell(lat[ins], lon[ins], r))
                found |= np.array([(int(c), i) in cover for c in enc], dtype=bool)
            assert found.all(), f"inside points outside the cover, polygon {i}: {list(zip(lon[ins][~found], lat[ins][~found]))[:3]}"

    def _rl(self, polys):
        from htrc_ingester_spark.operators.pip_join import poly_rings

        return [poly_rings(p) for p in polys]

    def test_parcel_grid_identical_both_gaps(self):
        self._assert_sound(self._rl(data.polygons_grid(1500)), 9, 14, 3)
        self._assert_sound(self._rl(data.polygons_grid(1500)), 9, 12, 0)

    def test_general_and_holes_fixtures_identical(self):
        self._assert_sound(self._rl(data.polygons()), 7, 12, 0)
        self._assert_sound(self._rl(data.polygons_holes()), 7, 12, 0)
        self._assert_sound(self._rl(data.polygons_holes()), 7, 12, 3)

    def test_open_ring_arrivals_identical(self):
        """Open rings take a synthetic closing edge, for parity and edge
        boxes alike, exactly as points_in_ring closes them."""

        def open_rings(rings):
            return [
                r[:-1]
                if (len(r) > 3 and r[0, 0] == r[-1, 0] and r[0, 1] == r[-1, 1])
                else r
                for r in rings
            ]

        rl = [open_rings(r) for r in self._rl(data.polygons_holes())]
        assert any(
            not (np.array_equal(r[0][0], r[0][-1])) for r in rl
        )  # fixture really is open now
        self._assert_sound(rl, 7, 12, 0)

    def test_fuzz_identical_including_fallback_shapes(self):
        """Random 3-8-gons from parcel to 1° size, open and closed,
        anywhere on the globe (antimeridian and near-pole included)."""
        rng = np.random.default_rng(7)
        polys = []
        for i in range(400):
            cx, cy = rng.uniform(-179.8, 179.8), rng.uniform(-88, 88)
            k = int(rng.integers(3, 9))
            ang = np.sort(rng.uniform(0, 2 * np.pi, k))
            rad = rng.uniform(0.0005, 0.5)
            ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
            if i % 3 == 0:
                ring = np.concatenate([ring, ring[:1]])  # closed variant
            polys.append([ring])
        self._assert_sound(polys, 7, 13, 3)

    def test_grid_aligned_edges_identical(self):
        """Polygon edges lying EXACTLY on cell boundaries: corners that
        sit exactly on an edge follow points_in_ring's half-open rule
        (left/bottom in, right/top out), not a rounded frame shift."""
        big = [np.array([[0.0, 0.0], [0.35, 0.0], [0.35, 0.35], [0.0, 0.35]])]
        for gap in (0, 1, 3):
            self._assert_sound([big], 8, 11, gap)
        cases = []
        for k in range(40):
            w = 90.0 / (1 << (8 + (k % 4)))
            x0 = -180.0 + (k * 7) * w
            y0 = -90.0 + (k * 3) * w
            cases.append([np.array([[x0, y0], [x0 + 5 * w, y0], [x0 + 5 * w, y0 + 5 * w], [x0, y0 + 5 * w]])])
        self._assert_sound(cases, 8, 12, 3)

    def test_nondyadic_walk_then_exact_boundary_edge_identical(self):
        """A NON-DYADIC vertex followed by an edge lying exactly on a
        cell boundary: a planar ring must keep its exact input
        coordinates (unwrap_ring's identity path), or the edge moves
        ~1e-14° off the boundary and the boundary column is missed."""
        res, res_max = 8, 12
        w = 360.0 / (1 << (res_max + 2))
        h = 180.0 / (1 << (res_max + 1))
        rng = np.random.default_rng(11)
        cases = []
        for _ in range(120):
            xi = int(rng.integers(8, (1 << (res_max + 2)) - 8))
            yi = int(rng.integers(8, (1 << (res_max + 1)) - 8))
            x0 = -180.0 + xi * w  # exact res_max cell boundary
            y0 = -90.0 + yi * h
            xa = x0 - 2 * w - 0.1 * float(rng.random())  # non-dyadic
            cases.append([np.array([[xa, y0], [x0, y0], [x0, y0 + 2 * h], [xa, y0 + 2 * h], [xa, y0]])])
        self._assert_sound(cases, res, res_max, 3)
        self._assert_sound(cases, res, res_max, 0)

    def test_out_of_frame_lons_identical(self):
        """Rings outside [-180, 180) or touching exactly +180, where
        ring_bbox's normalization flips the seed bbox through the
        antimeridian branch and the corners need the frame shift."""
        cases = [
            [np.array([[179.9, 0.0], [180.0, 0.0], [180.0, 1.0], [179.9, 1.0]])],
            [np.array([[184.0, 5.0], [185.0, 5.0], [184.5, 6.0]])],
            [np.array([[-184.0, 5.0], [-185.0, 5.0], [-184.5, 6.0]])],
            [np.array([[-180.0, 0.0], [-179.9, 0.0], [-179.9, 1.0], [-180.0, 1.0]])],
        ]
        self._assert_sound(cases, 5, 10, 0)
        self._assert_sound(cases, 5, 10, 3)

    def test_antimeridian_polar_and_degenerate_identical(self):
        cases = [
            [],  # no rings
            [np.array([[179.5, 10.0], [-179.5, 10.0], [-179.5, 11.0], [179.5, 11.0]])],
            [np.array([[0.0, 85.0], [120.0, 85.0], [-120.0, 85.0]])],  # polar cap
            [np.array([[179.99, -5.0], [180.0, -5.0], [180.0, 5.0], [179.99, 5.0]])],
            [np.array([[10.0, 10.0], [10.001, 10.0], [10.0005, 10.001]])],
        ]
        self._assert_sound(cases, 5, 9, 0)
        self._assert_sound(cases, 5, 9, 3)

    def test_polar_caps_both_poles(self):
        """Wiggly coastline caps around each pole, one with a hole."""
        x = np.linspace(180.0, -180.0, 90, endpoint=False)
        south = np.stack([x, -70.0 + 3.0 * np.sin(np.radians(7.0 * x))], axis=1)
        north = np.stack([x[::-1], 75.0 + 2.0 * np.cos(np.radians(5.0 * x))], axis=1)
        hole = np.array([[10.0, 80.0], [20.0, 80.0], [20.0, 82.0], [10.0, 82.0]])
        self._assert_sound([[south], [north, hole]], 3, 7, 0)
        self._assert_sound([[south], [north, hole]], 3, 7, 3)

    def test_many_vertex_ring(self):
        """A 256-vertex wiggly ring, and a 200-vertex one across the
        antimeridian."""
        t = np.linspace(0.0, 2.0 * np.pi, 256, endpoint=False)
        rad = 2.0 + 0.3 * np.sin(9.0 * t)
        wiggly = np.stack([10.0 + rad * np.cos(t), 40.0 + rad * np.sin(t)], axis=1)
        t = np.linspace(0.0, 2.0 * np.pi, 200, endpoint=False)
        anti = np.stack([180.0 + 1.5 * np.cos(t), -20.0 + np.sin(t)], axis=1)
        anti[:, 0] = (anti[:, 0] + 180.0) % 360.0 - 180.0
        self._assert_sound([[wiggly], [anti]], 5, 10, 0)
        self._assert_sound([[wiggly], [anti]], 5, 10, 3)

    def test_even_winding_ring(self):
        """A ring winding twice around the pole: points_in_ring's
        meridian ray crosses it an even number of times from either
        pole, and ring_bbox seeds the whole globe."""
        lon = np.tile([0.0, 120.0, -120.0], 2)
        twice = np.stack([lon, [80.0, 80.0, 80.0, 70.0, 70.0, 70.0]], axis=1)
        self._assert_sound([[twice]], 2, 5, 0)

    def test_two_vertex_ring_part(self):
        """A 2-vertex ring part contains nothing and bounds nothing: the
        polygon's cover is its square's."""
        from htrc_ingester_spark.operators import pip_join as PJ

        sq = np.array([[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 2.0]])
        seg = np.array([[1.5, 1.5], [5.0, 5.0]])
        self._assert_sound([[sq, seg], [seg]], 5, 10, 0)
        be = PJ.get_backend(None)
        with_seg = PJ._cover(PJ._prep_rings([[sq, seg]]), 5, 10, be)
        alone = PJ._cover(PJ._prep_rings([[sq]]), 5, 10, be)
        assert all((a == b).all() for a, b in zip(with_seg, alone))
        assert not len(PJ._cover(PJ._prep_rings([[seg]]), 5, 10, be)[0])


class TestPIPTable:
    """Cover-as-table regime (VERDICT r4 #1): distributed cover build +
    cell-keyed shuffle probe must be RESULT-IDENTICAL to the broadcast
    regime on every fixture family."""

    def _hits(self, df):
        return (
            df.select("image_id", "poly_id")
            .toPandas()
            .sort_values(["image_id", "poly_id"])
            .reset_index(drop=True)
        )

    def test_table_matches_broadcast_on_general_fixture(self, spark, images_df):
        from htrc_ingester_spark.operators.pip_join import pip_join_table, polys_to_wkb_df

        polys = data.polygons()
        bc = self._hits(pip_join(spark, images_df, polys, res=7))
        tb = self._hits(
            pip_join_table(spark, images_df, polys_to_wkb_df(spark, polys), res=7)
        )
        pd.testing.assert_frame_equal(tb, bc)
        assert len(bc) > 0

    def test_null_wkb_in_direct_frame_fails_naming_row(self, spark, images_df):
        """A raw GeoParquet frame handed straight to pip_join_table can
        carry NULL geometry cells; the cover build must fail the task
        naming the poly_id (the loader decoders' discipline), not die
        with an untagged TypeError."""
        from htrc_ingester_spark.geo.wkb import rings_to_wkb
        from htrc_ingester_spark.operators.pip_join import pip_join_table

        wdf = spark.createDataFrame(
            [
                ("good", rings_to_wkb([[(0, 0), (1, 0), (1, 1), (0, 1)]])),
                ("nullrow", None),
            ],
            "poly_id string, wkb binary",
        )
        with pytest.raises(Exception, match="nullrow.*NULL geometry"):
            pip_join_table(spark, images_df, wdf, res=7).count()

    def test_table_matches_broadcast_on_holes_fixture_cogroup(self, spark, images_df):
        from htrc_ingester_spark.operators.pip_join import pip_join_table, polys_to_wkb_df

        polys = data.polygons_holes()
        bc = self._hits(pip_join(spark, images_df, polys, res=7))
        tb = self._hits(pip_join_table(spark, images_df, polys_to_wkb_df(spark, polys), res=7))
        pd.testing.assert_frame_equal(tb, bc)
        assert len(bc) > 0

    def test_table_matches_broadcast_with_degenerate_ring(self, spark, images_df):
        """A tolerated <3-vertex ring (an even-odd no-op in
        points_in_ring) must not crash the table regime's WKB
        transport: the internal encoder normalizes it away
        (self-review r5)."""
        from htrc_ingester_spark.operators.pip_join import pip_join_table, polys_to_wkb_df

        polys = [dict(p) for p in data.polygons()[:3]]
        first = polys[0]
        first["rings"] = [list(first.pop("ring")), [(0.0, 0.0), (1.0, 1.0)]]
        bc = self._hits(pip_join(spark, images_df, polys, res=7))
        tb = self._hits(pip_join_table(spark, images_df, polys_to_wkb_df(spark, polys), res=7))
        pd.testing.assert_frame_equal(tb, bc)
        assert len(bc) > 0

    def test_auto_dispatch_past_polys_budget(self, spark, images_df, monkeypatch):
        from htrc_ingester_spark.operators import pip_join as PJ

        polys = data.polygons()
        want = self._hits(pip_join(spark, images_df, polys, res=7))
        monkeypatch.setattr(PJ, "_TABLE_POLYS_BUDGET", 3)
        got = self._hits(pip_join(spark, images_df, polys, res=7))
        pd.testing.assert_frame_equal(got, want)

    def test_grid_fixture_cover_has_full_and_partial(self):
        from htrc_ingester_spark.operators.pip_join import build_cell_cover

        polys = data.polygons_grid(300)
        cover = build_cell_cover(polys, 9, 12)
        assert cover["full"].any()       # big diamonds produce full cells
        assert (~cover["full"]).any()    # boundary shells exist

    def test_table_probe_is_shuffle_join_without_bytes(self, spark):
        """Plan pins for the table regime: the probe is a real
        cell-keyed shuffle join (NOT a broadcast of the cover), a
        skeleton invocation never references the bytes column
        anywhere (the bounded-shuffle rule), and the refine is the
        native predicate — no Python UDF, cogroup or union."""
        from htrc_ingester_spark.operators.pip_join import pip_join_table, polys_to_wkb_df

        pdf = data.images_pdf(50)
        full = spark.createDataFrame(pdf)
        skel = full.select("image_id", "lon", "lat")
        hits = pip_join_table(
            spark, skel, polys_to_wkb_df(spark, data.polygons()[:3]), res=7
        )
        plan = hits._jdf.queryExecution().executedPlan().toString()
        assert "bytes" not in plan
        # the cover must be built DISTRIBUTED (mapInArrow over the
        # polygon table), not on the driver (the broadcast regime's
        # cover is a LocalTableScan of a driver-built Arrow table).
        # The join flavor itself is Catalyst's choice: at test scale it
        # rightly broadcasts the tiny materialized cover; at parcel
        # scale the same plan shuffles the skeleton on __cell.
        assert "MapInArrow" in plan
        for node in ("ArrowEvalPython", "BatchEvalPython", "FlatMapCoGroupsInPandas", "Union"):
            assert node not in plan, node
        # no LocalTableScan may carry the cover columns: the ONLY
        # local scans allowed are the test inputs (points skeleton,
        # polygon table) — never a driver-materialized (cell, full)
        for line in plan.splitlines():
            if "LocalTableScan" in line:
                assert not ("cell#" in line and "full#" in line), line


class TestTilesEdgeContracts:
    """r5 review regressions for the tile/raster family."""

    def test_uncompact_coarser_target_raises(self, spark):
        from htrc_ingester_spark.operators.tiles import uncompact_cells

        cells = spark.createDataFrame(
            [(int(6) << 56 | (3 << 28) | 2,)], "cell long"
        )
        with pytest.raises(Exception, match="coarser than cell res"):
            uncompact_cells(cells, res=5).collect()

    def test_parent_of_coarser_cell_raises(self, spark):
        from htrc_ingester_spark.geo.h3lite import parent_sql_expr

        cells = spark.createDataFrame([(int(4) << 56 | (1 << 28) | 1,)], "cell long")
        with pytest.raises(Exception, match="coarser res-4 cell"):
            cells.selectExpr(parent_sql_expr("cell", 6)).collect()

    def test_coverage_gaps_wrapping_box_raises(self, spark):
        from htrc_ingester_spark.operators.tiles import coverage_gaps

        pts = spark.createDataFrame([(0.0, 0.0)], "lon double, lat double")
        boxes = spark.createDataFrame(
            [("pacific", 170.0, -10.0, -170.0, 10.0)],
            "poly_id string, lon_min double, lat_min double, lon_max double, lat_max double",
        )
        with pytest.raises(Exception, match="antimeridian"):
            coverage_gaps(pts, boxes, res=4).collect()

    def test_tile_sample_null_ids_never_win(self, spark):
        from htrc_ingester_spark.operators.tiles import tile_sample

        pdf = pd.DataFrame(
            {
                "image_id": [None, None, "a", "b", "c"],
                "lon": [10.0] * 5,
                "lat": [10.0] * 5,
            }
        )
        out = tile_sample(
            spark.createDataFrame(pdf, "image_id string, lon double, lat double"),
            res=4, k=2,
        ).toPandas()
        assert out.image_id.notna().all()
        assert len(out) == 2

    def test_mosaic_best_payload_named_s(self, spark):
        from htrc_ingester_spark.operators.tiles import mosaic_best

        pdf = pd.DataFrame(
            {
                "image_id": [1, 2],
                "score": [0.5, 0.9],
                "s": ["x", "y"],  # collided with the struct field 's'
                "lon": [10.0, 10.0],
                "lat": [10.0, 10.0],
            }
        )
        out = mosaic_best(spark.createDataFrame(pdf), "score", "image_id", zoom_res=4).toPandas()
        assert list(out.image_id) == [2] and list(out.s) == ["y"]

    def test_mosaic_pyramid_non_numeric_id_raises(self, spark):
        from htrc_ingester_spark.operators.tiles import mosaic_pyramid

        pdf = pd.DataFrame(
            {"image_id": ["u1"], "score": [1.0], "lon": [0.0], "lat": [0.0]}
        )
        with pytest.raises(ValueError, match="numeric id_col"):
            mosaic_pyramid(spark.createDataFrame(pdf), "score", "image_id", 3, 5)

    def test_adaptive_cells_single_scan_matches_semantics(self, spark):
        """The one-pass rollup rework must reproduce the quadtree
        descent exactly: each output cell's n is its TRUE point count,
        hot lineages descend, sum(n) partitions the corpus."""
        from htrc_ingester_spark.operators.tiles import adaptive_cells

        rng = np.random.default_rng(3)
        # hotspot at (10, 10) + sparse background
        lons = np.concatenate([10 + 0.01 * rng.normal(size=400), rng.uniform(-170, 170, 100)])
        lats = np.concatenate([10 + 0.01 * rng.normal(size=400), rng.uniform(-80, 80, 100)])
        df = spark.createDataFrame(
            pd.DataFrame({"lon": lons, "lat": lats})
        )
        out = adaptive_cells(df, base_res=2, max_res=6, threshold=50).toPandas()
        assert out.n.sum() == 500
        # the hotspot forced max-res leaves; background stabilized coarse
        assert (out.res == 6).any() and (out.res == 2).any()
        # every cell's count is the true count of points in that cell
        from htrc_ingester_spark.geo import h3lite as Hh

        for row in out.sample(min(20, len(out)), random_state=0).itertuples(index=False):
            r = int(row.cell) >> 56
            want = int((Hh.latlng_to_cell(lats, lons, r) == row.cell).sum())
            assert want == row.n
