"""pip_join's refine, in both regimes, is one Catalyst predicate over
per-cell edge lists (operators/pip_join.py _inside). It must be
DECISION-IDENTICAL to geo.geometry.points_in_rings — compared here as
exact (point, polygon) sets, never by tolerance — on hypothesis-made
rings and points and on the fixtures that stress each branch of the
kernel: half-open edge rules, horizontal edges under ANSI, the
antimeridian frame shift, polar caps, holes, degenerate rings and
points on the cover's own cell boundaries (where the per-cell edge
filter's pad matters)."""

from __future__ import annotations

import contextlib

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from htrc_ingester_spark import data
from htrc_ingester_spark.geo import geometry as G
from htrc_ingester_spark.operators import pip_join as P


def _numpy_pairs(lon, lat, polys) -> set:
    out = set()
    for p in polys:
        hit = G.points_in_rings(lon, lat, P.poly_rings(p))
        out |= {(int(i), str(p["poly_id"])) for i in np.nonzero(hit)[0]}
    return out


def _points(spark, lon, lat):
    pdf = pd.DataFrame(
        {"image_id": np.arange(len(lon)), "lon": np.asarray(lon, float), "lat": np.asarray(lat, float)}
    )
    return spark.createDataFrame(pdf)


def _pip_pairs(spark, lon, lat, polys, **kw) -> set:
    rows = P.pip_join(spark, _points(spark, lon, lat), polys, **kw).select("image_id", "poly_id").collect()
    return {(int(r[0]), r[1]) for r in rows}


def _assert_identical(spark, lon, lat, polys, forced=None, **kw) -> set:
    """pip_join's pairs ≡ points_in_rings'; given conftest's ``forced``,
    checked in the broadcast regime and again in the table regime."""
    lon, lat = np.asarray(lon, float), np.asarray(lat, float)
    want = _numpy_pairs(lon, lat, polys)
    for on in (False, True) if forced else (False,):
        with forced(on) if forced else contextlib.nullcontext():
            got = _pip_pairs(spark, lon, lat, polys, **kw)
        assert got == want, (on, sorted(got ^ want)[:10])
    return want


def _grid(lons, lats):
    lo, la = np.meshgrid(np.asarray(lons, float), np.asarray(lats, float))
    return lo.ravel(), la.ravel()


def _ring_points(rings):
    """Every vertex and edge midpoint of the rings."""
    pts = []
    for r in rings:
        r = np.asarray(r, float)
        pts.append(r)
        pts.append((r + np.roll(r, -1, axis=0)) / 2.0)
    allp = np.concatenate(pts)
    return allp[:, 0], allp[:, 1]


RECT = [(10.0, 10.0), (20.0, 10.0), (20.0, 20.0), (10.0, 20.0), (10.0, 10.0)]


class TestFixtures:
    """Each fixture runs through both regimes: the broadcast join and,
    under ``forced``, pip_join_table's distributed cover and shuffle
    probe refine with the same edge lists and predicate."""

    def test_rectangle_edges_and_corners(self, spark, forced):
        """Left and bottom edges IN, right and top edges OUT; of the
        corners only the bottom-left is IN."""
        named = {
            "left": (10.0, 15.0),
            "bottom": (15.0, 10.0),
            "right": (20.0, 15.0),
            "top": (15.0, 20.0),
            "bl": (10.0, 10.0),
            "br": (20.0, 10.0),
            "tl": (10.0, 20.0),
            "tr": (20.0, 20.0),
            "inside": (15.0, 15.0),
            "outside": (25.0, 15.0),
        }
        lon, lat = (np.array(v) for v in zip(*named.values()))
        got = _assert_identical(spark, lon, lat, [{"poly_id": "rect", "ring": RECT}], forced, res=7)
        names = list(named)
        assert {names[i] for i, _ in got} == {"left", "bottom", "bl", "inside"}

    def test_horizontal_edge_at_point_latitude_under_ansi(self, spark, forced):
        """A horizontal edge has y2 - y1 = 0: under ANSI the crossing
        formula raises on that division unless the straddle test,
        which is false for it, short-circuits first."""
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
        tri = [(0.0, 5.0), (8.0, 5.0), (4.0, 9.0)]
        lon = np.linspace(-1.0, 9.0, 41)
        lat = np.full_like(lon, 5.0)
        polys = [{"poly_id": "tri", "ring": tri}]
        _assert_identical(spark, lon, lat, polys, forced, res=6)
        # the cover's edge filter drops horizontal edges, so the
        # predicate also runs over every edge of the ring
        assert _predicate_pairs(spark, lon, lat, polys) == _numpy_pairs(lon, lat, polys)

    def test_antimeridian_ring_out_of_frame_longitudes(self, spark, forced):
        """Open ring across the dateline (unwrapped frame 170..190,
        centre 180): points at negative raw lons leave the frame, and
        lon - c + 180 < 0 takes the negative-fmod branch; raw lons past
        ±180 are covered too."""
        ring = [(170.0, -10.0), (-170.0, -10.0), (-170.0, 10.0), (170.0, 10.0)]
        lon, lat = _grid(
            [-180.0, -179.5, -175.0, -170.0, -169.5, 169.5, 170.0, 175.0, 179.99, 180.0, 185.0, -185.0],
            [-10.0, -9.5, 0.0, 9.99, 10.0],
        )
        got = _assert_identical(spark, lon, lat, [{"poly_id": "am", "ring": ring}], forced, res=4)
        assert got  # the fixture exercises hits, not only misses
        # the frame shift with a negative fmod result is really exercised
        c = 180.0
        r = np.fmod(lon - c + 180.0, 360.0)
        assert ((lon - c < -180.0) & (r < 0.0)).any()

    def test_polar_caps(self, spark, forced):
        north = [(float(x), 70.0 + 5.0 * np.sin(np.radians(3 * x))) for x in range(-180, 180, 10)]
        south = [(float(x), -65.0) for x in range(180, -180, -15)]
        polys = [{"poly_id": "n", "ring": north}, {"poly_id": "s", "ring": south}]
        vlon, vlat = _ring_points([north, south])
        glon, glat = _grid(np.arange(-180.0, 180.0, 7.5), [-89.0, -70.0, -65.0, -60.0, 0.0, 65.0, 70.0, 75.0, 89.0])
        got = _assert_identical(
            spark, np.concatenate([vlon, glon]), np.concatenate([vlat, glat]), polys, forced, res=2, res_max=5
        )
        assert {pid for _i, pid in got} == {"n", "s"}

    def test_cap_seam_sliver(self, spark, forced):
        """A cap's meridian ray meets its first and last edge at lons
        that agree only up to rounding: in a ~1e-14° sliver at the first
        vertex's lon, points on the far side of the cap count as inside.
        The cover must refine that meridian down to the far pole."""
        x = np.linspace(10.3, 10.3 - 360.0, 14)[:-1]
        cap = list(zip(x, 60.0 + 5.0 * np.sin(np.radians(x))))
        tiny = [(2.6684353237923398e-191, 0.0), (0.0, 0.0), (180.0, 0.0)]
        polys = [{"poly_id": "cap", "ring": cap}, {"poly_id": "tiny", "ring": tiny}]
        sliver = 10.3 + np.arange(-40, 41) * np.spacing(10.3)
        lon, lat = _grid(np.concatenate([sliver, [10.29, 10.31, 0.0, -0.0, 1e-300, 1.0]]), [-80.0, -1.0, 23.0, 50.0])
        got = _assert_identical(spark, lon, lat, polys, forced, res=3, res_max=8)
        far = (lat < 50.0) & (np.abs(lon - 10.3) < 1e-12)
        assert any(pid == "cap" and far[i] for i, pid in got)  # the sliver is really hit
        assert (int(np.nonzero((lon == 0.0) & (lat == 23.0))[0][0]), "tiny") in got

    def test_ring_winding_twice(self, spark, forced):
        """A ring that winds twice around the pole is crossed an even
        number of times from either pole, so points_in_ring puts both
        polar regions inside: the cover must seed the whole globe, not
        only the cap's pole side."""
        ring = [(180.0, 0.0), (0.0, 0.0), (0.0, 0.0), (180.0, 0.0), (0.0, 0.0)]
        lon, lat = _grid(np.arange(-180.0, 180.0, 30.0), [-80.0, -45.0, -1.0, 0.0, 1.0, 45.0, 80.0])
        got = _assert_identical(spark, lon, lat, [{"poly_id": "w2", "ring": ring}], forced, res=2, res_max=6)
        assert (lat[[i for i, _ in got]] > 10.0).any()

    def test_hole_open_ring_and_two_vertex_ring(self, spark, forced):
        outer_open = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
        hole = [(3.0, 3.0), (6.0, 3.0), (6.0, 6.0), (3.0, 6.0), (3.0, 3.0)]
        two = [(1.0, 1.0), (9.0, 9.0)]
        polys = [{"poly_id": "h", "rings": [outer_open, hole, two]}]
        lon, lat = _grid(np.arange(-0.5, 10.6, 0.5), np.arange(-0.5, 10.6, 0.5))
        got = _assert_identical(spark, lon, lat, polys, forced, res=6)
        assert (int(np.nonzero((lon == 4.5) & (lat == 4.5))[0][0]), "h") not in got
        assert (int(np.nonzero((lon == 1.5) & (lat == 1.5))[0][0]), "h") in got

    def test_integer_poly_ids(self, spark, forced):
        polys = [{"poly_id": 7, "ring": RECT}, {"poly_id": 8, "rings": P.poly_rings(data.polygons_holes()[0])}]
        vlon, vlat = _ring_points(polys[1]["rings"])
        diag = np.linspace(9.0, 21.0, 25)
        got = _assert_identical(spark, np.concatenate([diag, vlon]), np.concatenate([diag, vlat]), polys, forced, res=7)
        assert {pid for _i, pid in got} <= {"7", "8"} and got

    def test_points_on_partial_cell_boundaries(self, spark, forced):
        """Points exactly on the res_max grid lines, around a rectangle
        whose edges also lie on grid lines and a slanted triangle — the
        per-cell edge filter must not drop an edge a boundary point
        crosses."""
        res_max = 7
        w = 360.0 / (1 << (res_max + 2))
        h = 180.0 / (1 << (res_max + 1))
        k0, j0 = 260, 128
        x = -180.0 + np.arange(k0 - 2, k0 + 12) * w
        y = -90.0 + np.arange(j0 - 2, j0 + 12) * h
        grid_rect = [(x[2], y[2]), (x[9], y[2]), (x[9], y[9]), (x[2], y[9])]
        tri = [(x[1] + 0.1, y[1] + 0.2), (x[12] - 0.05, y[3]), (x[6], y[12] - 0.1)]
        polys = [{"poly_id": "g", "ring": grid_rect}, {"poly_id": "t", "ring": tri}]
        lon, lat = _grid(x, y)
        mids = _grid((x[:-1] + x[1:]) / 2.0, y)
        _assert_identical(
            spark,
            np.concatenate([lon, mids[0]]),
            np.concatenate([lat, mids[1]]),
            polys,
            forced,
            res=4,
            res_max=res_max,
        )


def _cap(n_vertices):
    """South polar cap: a coastline of ``n_vertices`` wiggling ±3°
    around lat -70."""
    x = np.linspace(180.0, -180.0, n_vertices, endpoint=False)
    return [{"poly_id": "cap", "ring": list(zip(x, -70.0 + 3.0 * np.sin(np.radians(7.0 * x))))}]


def _comb(n_teeth):
    """A comb whose ``n_teeth`` teeth point north from one base line,
    tips staggered in lat: every base vertex shares one lat band."""
    pts = [(0.0, 0.0)]
    for i in range(n_teeth):
        x0, tip = 0.1 * i, 1.0 + 0.004 * i
        pts += [(x0 + 0.02, 0.0), (x0 + 0.02, tip), (x0 + 0.08, tip), (x0 + 0.08, 0.0)]
    pts += [(0.1 * n_teeth, 0.0), (0.1 * n_teeth, -0.5), (0.0, -0.5)]
    return [{"poly_id": "comb", "ring": pts}]


def _edge_counts(polys, res, res_max):
    """(edges per partial row, table bytes) of the broadcast table."""
    from htrc_ingester_spark.geo.backend import H3LiteBackend

    be = H3LiteBackend()
    rings = [P.poly_rings(p) for p in polys]
    cells, pidx, full = P._cover_rows(P._cover_rings_many(rings, res, res_max, be))
    tab = P._edge_table(cells, pidx, full, rings, [str(p["poly_id"]) for p in polys], be)
    part = ~np.asarray(tab.column("full").to_numpy(zero_copy_only=False))
    n = sum(np.asarray(tab.column(c).combine_chunks().value_lengths()) for c in ("edges", "cap_edges"))
    assert part.any()
    return n[part], tab.nbytes


class TestEdgeLists:
    def test_partial_rows_carry_few_edges(self):
        """The per-cell filter keeps the broadcast O(cover): a 64-gon's
        partial cells carry a handful of edges each, not all 64."""
        t = np.linspace(0.0, 2.0 * np.pi, 65)[:-1]
        circle = [{"poly_id": "c", "ring": list(zip(5.0 * np.cos(t), 5.0 * np.sin(t)))}]
        n, _ = _edge_counts(circle, 5, 9)
        assert n.mean() <= 4.0
        assert n.max() < 64

    def test_many_vertex_cap_rows_stay_small(self):
        """A cap edge is kept only where its lon span meets the cell
        modulo 360 and it reaches the pole side: a 2000-vertex cap's
        rows carry a few edges, not all 2000."""
        n, nbytes = _edge_counts(_cap(2000), 3, 8)
        assert n.max() <= 4
        assert nbytes < 1_000_000

    def test_comb_rows_stay_small(self):
        """East of a cell, a chain of edges inside its lat band keeps
        only its end breakpoints and a band-spanning edge folds into
        the parity bit: a 200-tooth comb, whose base vertices all share
        one lat band, keeps a few edges per row, not every tooth east
        of the cell."""
        n, nbytes = _edge_counts(_comb(200), 5, 10)
        assert n.max() <= 6
        assert nbytes < 1_000_000

    @pytest.mark.parametrize("shape", ["cap", "comb"])
    def test_filtered_shapes_identical(self, spark, shape):
        polys, res, res_max = (_cap(400), 3, 7) if shape == "cap" else (_comb(40), 5, 10)
        vlon, vlat = _ring_points([P.poly_rings(polys[0])[0]])
        if shape == "cap":
            glon, glat = _grid(np.arange(-180.0, 180.0, 1.7), np.arange(-80.0, -60.0, 0.37))
        else:
            glon, glat = _grid(np.arange(-0.05, 4.1, 0.013), np.arange(-0.6, 1.25, 0.021))
        lon, lat = np.concatenate([vlon, glon]), np.concatenate([vlat, glat])
        got = _assert_identical(spark, lon, lat, polys, res=res, res_max=res_max)
        assert got and len(got) < len(lon)


class TestBroadcastGate:
    """The edge table goes through session.fits_driver against
    spark.sql.autoBroadcastJoinThreshold: past it, pip_join runs the
    cover-as-table regime with the same result."""

    def test_oversized_table_takes_table_regime(self, spark, monkeypatch):
        calls = []
        real = P.pip_join_table
        monkeypatch.setattr(P, "pip_join_table", lambda *a, **kw: calls.append(1) or real(*a, **kw))
        polys = data.polygons_holes()
        rng = np.random.default_rng(3)
        lon, lat = rng.uniform(-20.0, 40.0, 3000), rng.uniform(-10.0, 40.0, 3000)
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        try:
            for threshold in ("1k", "-1"):
                spark.conf.set(key, threshold)
                _assert_identical(spark, lon, lat, polys, res=7)
            assert len(calls) == 2
        finally:
            spark.conf.set(key, old)
        _assert_identical(spark, lon, lat, polys, res=7)
        assert len(calls) == 2

    def test_streaming_points_refuse_table_regime(self, spark):
        stream = (
            spark.readStream.format("rate").option("rowsPerSecond", 1).load()
            .selectExpr("cast(value as double) as lon", "cast(value as double) as lat")
        )
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        try:
            spark.conf.set(key, "1k")
            with pytest.raises(ValueError, match="streaming point frame"):
                P.pip_join(spark, stream, data.polygons_holes(), res=7)
        finally:
            spark.conf.set(key, old)


# --------------------------------------------------------------------------
# properties

coord_lon = st.floats(min_value=-180.0, max_value=180.0, allow_nan=False)
coord_lat = st.floats(min_value=-90.0, max_value=90.0, allow_nan=False)
ring_st = st.lists(st.tuples(coord_lon, coord_lat), min_size=2, max_size=7)
local_ring_st = st.lists(
    st.tuples(st.floats(-4.0, 4.0, allow_nan=False), st.floats(-4.0, 4.0, allow_nan=False)),
    min_size=2,
    max_size=7,
)


def _all_edges_frame(spark, lon, lat, polys):
    """Every (point, polygon) pair as a partial candidate carrying ALL
    its ring edges — the predicate alone, without cover or filter."""
    import pyarrow as pa

    rows = {"lon": [], "lat": [], "poly_id": [], "parity": [], "edges": [], "cap_edges": []}
    for p in polys:
        e, _, k, _, caps = P._ring_edges([P.poly_rings(p)])
        edges = [{f: v[i].item() for f, v in e.items()} for i in range(len(e["c"]))]
        cap_edges = [{f: v[i].item() for f, v in k.items()} for i in range(len(k["lo"]))]
        for x, y in zip(lon, lat):
            rows["lon"].append(float(x))
            rows["lat"].append(float(y))
            rows["poly_id"].append(str(p["poly_id"]))
            rows["parity"].append(bool(caps[0]))
            rows["edges"].append(edges)
            rows["cap_edges"].append(cap_edges)
    tab = pa.table(
        {
            "image_id": pa.array(np.tile(np.arange(len(lon)), len(polys)), pa.int64()),
            "lon": pa.array(rows["lon"], pa.float64()),
            "lat": pa.array(rows["lat"], pa.float64()),
            "poly_id": pa.array(rows["poly_id"], pa.string()),
            "full": pa.array([False] * len(rows["lon"]), pa.bool_()),
            "parity": pa.array(rows["parity"], pa.bool_()),
            "edges": pa.array(rows["edges"], pa.list_(P._EDGE_TYPE)),
            "cap_edges": pa.array(rows["cap_edges"], pa.list_(P._CAP_EDGE_TYPE)),
        }
    )
    return spark.createDataFrame(tab)


def _predicate_pairs(spark, lon, lat, polys) -> set:
    df = _all_edges_frame(spark, lon, lat, polys)
    return {(int(r[0]), r[1]) for r in df.where(P._inside("lon", "lat")).select("image_id", "poly_id").collect()}


@settings(max_examples=40, deadline=None)
@given(
    st.lists(ring_st, min_size=1, max_size=3),
    st.lists(st.tuples(coord_lon, coord_lat), min_size=1, max_size=12),
)
def test_predicate_matches_points_in_rings(spark, rings, pts):
    """The Catalyst ray cast over unfiltered edges ≡ points_in_rings
    for ANY rings (self-intersecting, antimeridian, caps, 2-vertex)
    and query points — including every ring vertex and edge midpoint."""
    polys = [{"poly_id": "p", "rings": rings}]
    vlon, vlat = _ring_points(rings)
    lon = np.concatenate([[a for a, _ in pts], vlon])
    lat = np.concatenate([[b for _, b in pts], vlat])
    assert _predicate_pairs(spark, lon, lat, polys) == _numpy_pairs(lon, lat, polys)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.one_of(local_ring_st, ring_st), min_size=1, max_size=3),
    st.lists(st.tuples(st.floats(-5.0, 5.0, allow_nan=False), st.floats(-5.0, 5.0, allow_nan=False)), max_size=20),
    st.lists(st.tuples(coord_lon, coord_lat), max_size=10),
)
def test_pip_join_matches_points_in_rings(spark, forced, rings, local_pts, global_pts):
    """End to end (cover + per-cell edge filter + predicate), in both
    regimes, on hypothesis-made polygons: two polygons, the second
    with integer id, queried with local, global, vertex and
    edge-midpoint points. (``forced`` holds no per-example state.)"""
    polys = [{"poly_id": "a", "rings": rings}, {"poly_id": 2, "ring": [(-3.0, -3.0), (3.0, -2.0), (0.0, 3.5)]}]
    vlon, vlat = _ring_points(rings)
    pts = local_pts + global_pts
    lon = np.concatenate([[a for a, _ in pts], vlon])
    lat = np.concatenate([[b for _, b in pts], vlat])
    _assert_identical(spark, lon, lat, polys, forced, res=2, res_max=6)


@pytest.mark.parametrize("shift", [0.0, 360.0, -360.0])
def test_fixture_polygons_with_shifted_lons(spark, shift):
    """The engine's polygon fixtures over points whose raw lon is off
    by a full turn: encode wraps them into the same cells, the frame
    shift wraps them back — still identical."""
    rng = np.random.default_rng(7)
    polys = data.polygons_holes()
    lon = rng.uniform(-180.0, 180.0, 4000)
    lat = rng.uniform(-60.0, 75.0, 4000)
    vlon, vlat = _ring_points([r for p in polys for r in P.poly_rings(p)])
    _assert_identical(
        spark, np.concatenate([lon, vlon]) + shift, np.concatenate([lat, vlat]), polys, res=7
    )


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.lists(
            st.tuples(st.floats(-2.0, 2.0, allow_nan=False), st.floats(-0.3, 0.3, allow_nan=False)),
            min_size=3,
            max_size=24,
        ),
        min_size=1,
        max_size=2,
    ),
    st.lists(st.tuples(st.floats(-2.5, 2.5, allow_nan=False), st.floats(-0.5, 0.5, allow_nan=False)), max_size=30),
)
def test_pip_join_matches_points_in_rings_flat_rings(spark, rings, pts):
    """Rings squashed into a few cell rows, so many vertices share a
    lat band and east chains, folds and stand-in edges all occur;
    queried also on the res_max grid lines."""
    polys = [{"poly_id": "f", "rings": rings}]
    vlon, vlat = _ring_points(rings)
    glon, glat = _grid(np.arange(-2.5, 2.6, 360.0 / 1024), np.arange(-0.5, 0.51, 180.0 / 512))
    lon = np.concatenate([[a for a, _ in pts], vlon, glon])
    lat = np.concatenate([[b for _, b in pts], vlat, glat])
    _assert_identical(spark, lon, lat, polys, res=4, res_max=8)
