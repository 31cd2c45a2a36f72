"""geo/backend.py: the pluggable cell-index backend. The h3lite paths
run hermetically; the real-H3 paths are import-guarded (skipped where
the wheel is absent) and assert BEHAVIORAL equality — pip_join results
are exact under any backend because classification is conservative and
the refine is the same ray-cast."""

from __future__ import annotations

import numpy as np
import pytest

from htrc_ingester_spark import data
from htrc_ingester_spark.geo import h3lite as H
from htrc_ingester_spark.geo.backend import HAS_H3, H3LiteBackend, get_backend
from htrc_ingester_spark.operators.pip_join import build_cell_cover, pip_join

pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")


class TestH3LiteBackend:
    def test_children_pair_with_parents(self):
        be = H3LiteBackend()
        cells = H.latlng_to_cell(np.array([10.0, -40.0]), np.array([20.0, 170.0]), 5)
        kids, parent = be.cells_to_children(cells)
        assert len(kids) == 8 and list(np.unique(parent)) == [0, 1]
        # every child's parent must round-trip
        back = H.cell_to_parent(kids, 5)
        assert np.array_equal(back, cells[parent])

    def test_corners_shape_and_bbox(self):
        be = H3LiteBackend()
        cells = np.atleast_1d(H.latlng_to_cell(37.77, -122.42, 7))
        lons, lats = be.cell_corners(cells)
        assert lons.shape == (1, 4)
        lon0, lat0, lon1, lat1 = H.cell_to_boundary(cells)
        assert lons.min() == lon0[0] and lons.max() == lon1[0]
        assert lats.min() == lat0[0] and lats.max() == lat1[0]

    def test_num_cells_and_selection(self):
        assert H3LiteBackend().num_cells(3) == H.nx(3) * H.ny(3)
        assert get_backend().name == "h3lite"
        assert get_backend("h3lite").aperture == 4
        with pytest.raises(ValueError):
            get_backend("nope")

    def test_default_cover_identical_to_explicit_backend(self):
        a = build_cell_cover(data.polygons_holes(), 7)
        b = build_cell_cover(data.polygons_holes(), 7, backend=H3LiteBackend())
        assert a.equals(b)


@pytest.mark.skipif(not HAS_H3, reason="h3 wheel not installed in this container")
class TestRealH3Backend:  # pragma: no cover - exercised only with the wheel
    def test_encode_parent_disk_roundtrip(self):
        be = get_backend("h3")
        c = int(be.latlng_to_cell(37.77, -122.42, 9))
        p = int(be.cell_to_parent(c, 7))
        import h3

        assert h3.get_resolution(h3.int_to_str(c)) == 9
        assert h3.get_resolution(h3.int_to_str(p)) == 7
        disk = be.grid_disk(c, 1)
        assert c in set(int(x) for x in disk) and len(disk) in (6, 7)

    def test_pip_join_results_backend_invariant(self, spark):
        """Same exact hit set under h3lite and real-H3 indexing: the
        cover/probe only generates candidates; the ray-cast refine and
        the full-cell proof decide membership identically."""
        pdf = data.images_meta_pdf(300)
        pts = spark.createDataFrame(pdf[["image_id", "lon", "lat"]])
        a = (
            pip_join(spark, pts, data.polygons_holes(), res=5)
            .select("image_id", "poly_id").toPandas()
            .sort_values(["image_id", "poly_id"]).reset_index(drop=True)
        )
        b = (
            pip_join(spark, pts, data.polygons_holes(), res=5, backend="h3")
            .select("image_id", "poly_id").toPandas()
            .sort_values(["image_id", "poly_id"]).reset_index(drop=True)
        )
        assert a.equals(b)


class TestReencodeBridge:
    """reencode_cells: the interop bridge for PRE-ENCODED cell columns
    (tiles.assign_tiles(cell_col=...), compact_cells, pyramids assume
    h3lite bit packing; external H3 data crosses here first)."""

    def test_cells_to_latlng_centers_roundtrip(self):
        be = H3LiteBackend()
        rng = np.random.default_rng(7)
        lons = rng.uniform(-179, 179, 50)
        lats = rng.uniform(-89, 89, 50)
        cells = H.latlng_to_cell(lats, lons, 6)
        clats, clngs = be.cells_to_latlng(cells)
        assert np.array_equal(H.latlng_to_cell(clats, clngs, 6), cells)

    def test_same_res_is_identity(self, spark):
        from htrc_ingester_spark.geo.backend import reencode_cells

        pdf = data.images_meta_pdf(200)[["image_id", "lon", "lat"]]
        df = spark.createDataFrame(pdf).withColumn(
            "cell", H3LiteBackend.encode_col("lon", "lat", 6)
        )
        out = reencode_cells(df, "cell", 6, source="h3lite", target="h3lite", out_col="cell2")
        assert out.where("cell2 != cell").count() == 0

    def test_coarser_res_equals_parent(self, spark):
        from htrc_ingester_spark.geo.backend import reencode_cells
        from pyspark.sql import functions as F
        from htrc_ingester_spark.geo.h3lite import parent_sql_expr

        pdf = data.images_meta_pdf(200)[["image_id", "lon", "lat"]]
        df = spark.createDataFrame(pdf).withColumn(
            "cell", H3LiteBackend.encode_col("lon", "lat", 8)
        )
        out = reencode_cells(df, "cell", 5, source="h3lite", target="h3lite", out_col="c5").withColumn(
            "parent", F.expr(parent_sql_expr("cell", 5, dialect="spark"))
        )
        assert out.where("c5 != parent").count() == 0

    def test_empty_input_typed(self, spark):
        from htrc_ingester_spark.geo.backend import reencode_cells

        df = spark.createDataFrame([], "cell long, image_id string")
        out = reencode_cells(df, "cell", 6, source="h3lite", target="h3lite")
        assert out.count() == 0 and dict(out.dtypes)["cell"] == "bigint"


@pytest.mark.skipif(not HAS_H3, reason="h3 wheel not installed in this container")
class TestReencodeRealH3:  # pragma: no cover - exercised only with the wheel
    def test_h3_to_h3lite_center_containment(self, spark):
        """The re-tagged h3lite cell must CONTAIN the true H3 cell
        center — the property downstream pruning relies on."""
        from htrc_ingester_spark.geo.backend import H3Backend, reencode_cells

        pdf = data.images_meta_pdf(100)[["image_id", "lon", "lat"]]
        df = spark.createDataFrame(pdf).withColumn(
            "cell", H3Backend.encode_col("lon", "lat", 9)
        )
        out = reencode_cells(df, "cell", 7, source="h3", target="h3lite", out_col="lite").toPandas()
        be = get_backend("h3")
        lats, lngs = be.cells_to_latlng(out["cell"].to_numpy(dtype=np.int64))
        lon0, lat0, lon1, lat1 = H.cell_to_boundary(out["lite"].to_numpy(dtype=np.int64))
        assert np.all((lngs >= lon0) & (lngs < lon1) & (lats >= lat0) & (lats < lat1))

    def test_h3_to_h3lite_feeds_tile_assign(self, spark):
        """End-to-end: external H3 cells cross the bridge, then the
        h3lite-arithmetic tile assigner consumes them without error and
        agrees with the lon/lat path ON the re-tagged centers."""
        from htrc_ingester_spark.geo.backend import H3Backend, reencode_cells
        from htrc_ingester_spark.operators.tiles import assign_tiles

        pdf = data.images_meta_pdf(100)[["image_id", "lon", "lat"]]
        df = spark.createDataFrame(pdf).withColumn(
            "cell", H3Backend.encode_col("lon", "lat", 9)
        )
        bridged = reencode_cells(df, "cell", 7, source="h3", target="h3lite")
        got = assign_tiles(bridged, zoom_res=5, cell_col="cell").select("image_id", "tile_id")
        assert got.count() == 100
