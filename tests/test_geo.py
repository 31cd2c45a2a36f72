"""Unit tests for the pure-numpy geo kernels (no Spark needed)."""

import numpy as np
import pytest

from htrc_ingester_spark.geo import geometry as G
from htrc_ingester_spark.geo import h3lite as H
from htrc_ingester_spark.geo import s2lite as S

# kernels must be numerically silent: every expected inf/nan/overflow
# site is wrapped in np.errstate at the source (VERDICT r3 #6 — at
# production batch volume a leaking RuntimeWarning floods executor
# logs); promote any leak to a hard failure so new kernels can't regress
pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")


class TestH3Lite:
    def test_known_vectors(self):
        # res 0: 4x2 grid. (-180,-90) -> x=0,y=0 ; (179.9, 89.9) -> x=3,y=1
        assert int(H.latlng_to_cell(-90.0, -180.0, 0)) == 0
        c = int(H.latlng_to_cell(89.9, 179.9, 0))
        assert (c >> 28) & ((1 << 28) - 1) == 3 and c & ((1 << 28) - 1) == 1
        # pinned absolute vector (regression guard on the packing)
        assert int(H.latlng_to_cell(37.77, -122.42, 7)) == 7 * 2**56 + 81 * 2**28 + 181

    def test_wrap_and_clamp(self):
        assert int(H.latlng_to_cell(0.0, 180.0, 5)) == int(H.latlng_to_cell(0.0, -180.0, 5))
        assert int(H.latlng_to_cell(0.0, 540.0, 5)) == int(H.latlng_to_cell(0.0, 180.0, 5))
        # +90 lat clamps into top row, not out of range
        _, y = H.cell_xy(H.latlng_to_cell(90.0, 0.0, 5))
        assert int(y) == H.ny(5) - 1

    def test_hierarchy(self):
        rng = np.random.default_rng(0)
        lat = rng.uniform(-90, 90, 1000)
        lon = rng.uniform(-180, 180, 1000)
        fine = H.latlng_to_cell(lat, lon, 10)
        for pres in (9, 7, 0):
            coarse_direct = H.latlng_to_cell(lat, lon, pres)
            coarse_via_parent = H.cell_to_parent(fine, pres)
            np.testing.assert_array_equal(coarse_direct, coarse_via_parent)

    def test_grid_disk_wraps_lon_and_clips_lat(self):
        res = 4
        c = H.latlng_to_cell(89.9, 179.9, res)  # top-right corner cell
        disk = H.grid_disk(int(c), 1)
        assert int(c) in disk.tolist()
        # 3 columns (with wrap) x 2 rows (top clipped) = 6
        assert len(disk) == 6
        xs = sorted(set(int(x) for x in H.cell_xy(disk)[0]))
        assert 0 in xs and H.nx(res) - 1 in xs  # wrapped across the antimeridian

    def test_grid_ring_disjoint_union(self):
        c = int(H.latlng_to_cell(10.0, 10.0, 6))
        d2 = set(H.grid_disk(c, 2).tolist())
        d1 = set(H.grid_disk(c, 1).tolist())
        r2 = set(H.grid_ring(c, 2).tolist())
        assert d1 | r2 == d2 and not (d1 & r2)

    def test_cover_bbox_antimeridian(self):
        cells = H.cover_bbox(179.5, -17.0, -179.3, -16.0, 6)
        xs = set(int(x) for x in H.cell_xy(cells)[0])
        assert 0 in xs and H.nx(6) - 1 in xs

    def test_boundary_roundtrip(self):
        c = H.latlng_to_cell(48.86, 2.35, 8)
        lon0, lat0, lon1, lat1 = H.cell_to_boundary(c)
        assert lon0 <= 2.35 < lon1 and lat0 <= 48.86 < lat1

    def test_sql_expr_matches_numpy(self):
        import duckdb
        import pandas as pd

        rng = np.random.default_rng(1)
        lat = rng.uniform(-91, 91, 500)  # deliberately includes out-of-range
        lon = rng.uniform(-360, 360, 500)
        df = pd.DataFrame({"lon": lon, "lat": lat})
        con = duckdb.connect()
        con.register("pts", df)
        for res in (5, 7, 10):
            expected = H.latlng_to_cell(lat, lon, res)
            got = con.sql(
                f"select {H.h3_sql_expr('lon', 'lat', res)} as c from pts"
            ).df()["c"]
            np.testing.assert_array_equal(expected, got.to_numpy())


    @pytest.mark.parametrize("engine", ["spark", "duckdb"])
    @pytest.mark.parametrize(
        "builder",
        ["unpack", "pack", "set_x", "index", "encode", "parent", "child_parent", "bounds", "neighbor"],
    )
    def test_sql_builders_match_numpy(self, spark, engine, builder):
        """Every SQL builder of the cell-id vocabulary gives the same
        values as its numpy twin, on random cells at res 0..15, in Spark
        SQL and in DuckDB (the dialect the oracle runs)."""
        import duckdb
        import pandas as pd

        rng = np.random.default_rng(5)
        n = 600
        res = rng.integers(H.RES_MIN, H.RES_MAX + 1, n)
        x, y = rng.integers(0, 1 << (res + 2)), rng.integers(0, 1 << (res + 1))
        cell = H.pack_xy(x, y, res)
        pdf = pd.DataFrame(
            {
                "i": np.arange(n), "cell": cell, "res": res, "x": x, "y": y,
                "new_x": rng.integers(0, 1 << (res + 2)),
                "lon": rng.uniform(-180, 180, n), "lat": rng.uniform(-91, 91, n),
            }
        )
        levels = range(H.RES_MIN, H.RES_MAX + 1)

        def run(exprs: dict, tail: str = "") -> pd.DataFrame:
            sel = ", ".join(f"{e} as {k}" for k, e in exprs.items())
            q = f"select i, cell, {sel} from t {tail}"
            if engine == "duckdb":
                con = duckdb.connect()
                con.register("t", pdf)
                got = con.sql(q).df()
            else:
                spark.createDataFrame(pdf).createOrReplaceTempView("t")
                got = spark.sql(q).toPandas()
            return got.sort_values(["i", "cell"], kind="stable").reset_index(drop=True)

        eq = np.testing.assert_array_equal
        if builder == "unpack":
            got = run(dict(zip(("r", "gx", "gy"), H.unpack_sql("cell", engine))))
            eq(got.r, H.cell_res(cell))
            eq(got.gx, H.cell_xy(cell)[0])
            eq(got.gy, H.cell_xy(cell)[1])
        elif builder == "pack":
            got = run({"c": H.pack_sql("res", "x", "y"), "c7": H.pack_sql(7, "x", "y")})
            eq(got.c, cell)
            eq(got.c7, H.pack_xy(x, y, 7))
        elif builder == "set_x":
            _, sx, _ = H.unpack_sql("cell", engine)
            got = run({"c": H.set_x_sql("cell", sx, "new_x")})
            eq(got.c, H.pack_xy(pdf.new_x.to_numpy(), y, res))
        elif builder in ("index", "encode"):
            if builder == "index":
                exprs = {f"x{r}": H.lon_index_sql("lon", r) for r in levels}
                exprs |= {f"y{r}": H.lat_index_sql("lat", r) for r in levels}
            else:
                exprs = {f"c{r}": H.h3_sql_expr("lon", "lat", r) for r in levels}
            got = run(exprs)
            for r in levels:
                want = H.latlng_to_cell(pdf.lat.to_numpy(), pdf.lon.to_numpy(), r)
                if builder == "index":
                    eq(got[f"x{r}"], H.cell_xy(want)[0])
                    eq(got[f"y{r}"], H.cell_xy(want)[1])
                else:
                    eq(got[f"c{r}"], want)
        elif builder == "parent":
            for p in (0, 4, 9):
                got = run({"p": H.parent_sql_expr("cell", p, engine)}, f"where res >= {p}")
                eq(got.p, H.cell_to_parent(got.cell.to_numpy(), p))
        elif builder == "child_parent":
            got = run({f"p{r}": H.child_parent_sql("cell", r, r // 2, engine) for r in levels})
            for r in levels:
                at = (res == r)
                eq(got[f"p{r}"][at], H.cell_to_parent(cell[at], r // 2))
        elif builder == "bounds":
            got = run(H.cell_bounds_sql("cell", engine))
            want = H.cell_to_boundary(cell)
            for k, w in zip(("lon_min", "lat_min", "lon_max", "lat_max"), want):
                eq(got[k], w)
        else:
            offs = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
            got = run(
                {"nb": H.neighbor_sql_expr("cell", "dx", "dy", engine)},
                f"cross join (values {offs}) as o(dx, dy)"
                f" where {H.neighbor_valid_sql('cell', 'dy', engine)}",
            )
            nbs = got.groupby("cell").nb.apply(lambda s: sorted(set(s)))
            assert len(nbs) == len(np.unique(cell))
            for c, got_nb in nbs.items():
                assert got_nb == H.grid_disk(int(c), 1).tolist(), c


    def test_layout_literals_only_in_h3lite(self):
        """The packed-id layout (res·2^56 + x·2^28 + y) is spelled only in
        geo/h3lite.py (and in plans/catalog.py's DuckDB oracle strings,
        which are the reference the gate compares against): every other
        module goes through h3lite's builders, so a change to the id's
        order or packing touches one module."""
        import pathlib
        import re

        pkg = pathlib.Path(H.__file__).resolve().parents[1]
        allowed = {pkg / "geo" / "h3lite.py", pkg / "plans" / "catalog.py"}
        layout = re.compile(
            r"1\s*<<\s*(56|28)|<<\s*28|>>\s*28|2\s*\*\*\s*(56|28)|72057594037927936|268435456"
        )
        leaks = [
            f"{path.relative_to(pkg)}:{i}: {line.strip()}"
            for path in sorted(pkg.rglob("*.py"))
            if path not in allowed
            for i, line in enumerate(path.read_text().splitlines(), 1)
            if layout.search(line)
        ]
        assert not leaks, "cell-id layout spelled outside geo/h3lite.py:\n" + "\n".join(leaks)


class TestS2Lite:
    def test_face_assignment(self):
        # +x axis → face 0, +y → 1, +z(north pole) → 2, -x → 3, -y → 4, -z → 5
        for (lat, lon), face in [
            ((0, 0), 0),
            ((0, 90), 1),
            ((90, 0), 2),
            ((0, 180), 3),
            ((0, -90), 4),
            ((-90, 0), 5),
        ]:
            c = int(S.latlng_to_cell(lat, lon, 10))
            assert c >> 59 == face, (lat, lon, face, c >> 59)

    def test_hierarchy_mask(self):
        rng = np.random.default_rng(2)
        lat = rng.uniform(-90, 90, 500)
        lon = rng.uniform(-180, 180, 500)
        fine = S.latlng_to_cell(lat, lon, 20)
        np.testing.assert_array_equal(
            S.cell_to_parent(fine, 8), S.latlng_to_cell(lat, lon, 8)
        )

    def test_level_recovery(self):
        c = S.latlng_to_cell(45.0, 45.0, 13)
        assert int(S.cell_level(c)) == 13

    def test_positive_int64(self):
        rng = np.random.default_rng(3)
        c = S.latlng_to_cell(rng.uniform(-90, 90, 1000), rng.uniform(-180, 180, 1000), 29)
        assert np.all(c > 0)


def oracle_point_in_ring(lon, lat, ring):
    """Independent scalar reference implementation of the module's
    containment convention (written separately from the vectorized
    kernel; plain Python loops)."""
    rl = [p[0] for p in ring]
    rt = [p[1] for p in ring]
    if rl[0] != rl[-1] or rt[0] != rt[-1]:
        rl.append(rl[0])
        rt.append(rt[0])
    # unwrap — with the module convention's planar identity: a ring
    # whose every raw step already lies in [-180, 180) IS its own
    # continuous frame (the cumsum reconstruction below is identity
    # only in exact arithmetic; its ~1-ulp drift off exactly-
    # representable coordinates is an artifact, not the convention)
    if all(-180.0 <= rl[i] - rl[i - 1] < 180.0 for i in range(1, len(rl))):
        u = list(rl)
    else:
        u = [rl[0]]
        for i in range(1, len(rl)):
            d = rl[i] - rl[i - 1]
            d = (d + 180.0) % 360.0 - 180.0
            u.append(u[-1] + d)
    wind = round((u[-1] - u[0]) / 360.0)
    if wind == 0:
        lo, hi = min(u), max(u)
        center = 0.5 * (lo + hi)
        # conditional frame shift (module convention): in-frame lons
        # stay raw so points exactly on an edge keep the half-open rule
        if -180.0 <= lon - center < 180.0:
            px = lon
        else:
            px = center + ((lon - center + 180.0) % 360.0 - 180.0)
        inside = False
        for i in range(len(u) - 1):
            x1, y1, x2, y2 = u[i], rt[i], u[i + 1], rt[i + 1]
            if (y1 > lat) != (y2 > lat):
                xint = x1 + (lat - y1) * (x2 - x1) / (y2 - y1)
                if px < xint:
                    inside = not inside
        return inside
    north = sum(rt[:-1]) / (len(rt) - 1) > 0
    lo = min(u)
    px = lo + ((lon - lo) % 360.0)
    n_cross = 0
    for shift in (0.0, 360.0, -360.0):
        pp = px + shift
        for i in range(len(u) - 1):
            a, b, ya, yb = u[i], u[i + 1], rt[i], rt[i + 1]
            if (a <= pp < b) or (b <= pp < a):
                t = (pp - a) / (b - a) if b != a else 0.0
                yc = ya + t * (yb - ya)
                if (north and yc > lat) or ((not north) and yc < lat):
                    n_cross += 1
    # ray ends at the pole, which is inside the cap → even parity = inside
    return n_cross % 2 == 0


class TestPIPKernel:
    def test_simple_square(self):
        ring_lon = np.array([0.0, 2.0, 2.0, 0.0, 0.0])
        ring_lat = np.array([0.0, 0.0, 2.0, 2.0, 0.0])
        lon = np.array([1.0, 3.0, -0.5, 1.0])
        lat = np.array([1.0, 1.0, 1.0, 5.0])
        got = G.points_in_ring(lon, lat, ring_lon, ring_lat)
        np.testing.assert_array_equal(got, [True, False, False, False])

    def test_concave_star_parity(self):
        from htrc_ingester_spark.data import polygons

        star = [p for p in polygons() if p["kind"] == "concave"][0]["ring"]
        rl = np.array([p[0] for p in star])
        rt = np.array([p[1] for p in star])
        rng = np.random.default_rng(7)
        lon = rng.uniform(2.35 - 0.3, 2.35 + 0.3, 400)
        lat = rng.uniform(48.86 - 0.3, 48.86 + 0.3, 400)
        got = G.points_in_ring(lon, lat, rl, rt)
        want = [oracle_point_in_ring(lon[i], lat[i], star) for i in range(400)]
        np.testing.assert_array_equal(got, want)
        assert got.any() and not got.all()

    def test_antimeridian(self):
        ring = [(179.5, -17.2), (-179.3, -17.2), (-179.3, -15.9), (179.5, -15.9), (179.5, -17.2)]
        rl = np.array([p[0] for p in ring])
        rt = np.array([p[1] for p in ring])
        lon = np.array([179.9, -179.9, 179.0, 0.0, -179.2])
        lat = np.array([-16.5, -16.5, -16.5, -16.5, -16.5])
        got = G.points_in_ring(lon, lat, rl, rt)
        np.testing.assert_array_equal(got, [True, True, False, False, False])

    def test_polar_caps(self):
        cap = [(float(lon), 85.0) for lon in range(-180, 181, 30)]
        rl = np.array([p[0] for p in cap])
        rt = np.array([p[1] for p in cap])
        lon = np.array([0.0, 100.0, -170.0, 0.0, 13.7])
        lat = np.array([89.0, 86.0, 85.5, 84.0, -89.0])
        got = G.points_in_ring(lon, lat, rl, rt)
        np.testing.assert_array_equal(got, [True, True, True, False, False])
        # south cap
        caps = [(float(lon), -85.0) for lon in range(-180, 181, 30)]
        got_s = G.points_in_ring(lon, lat, np.array([p[0] for p in caps]), np.array([p[1] for p in caps]))
        np.testing.assert_array_equal(got_s, [False, False, False, False, True])

    def test_degenerate_no_crash_nothing_inside(self):
        for ring in (
            [(10.0, 10.0), (11.0, 10.0), (12.0, 10.0), (10.0, 10.0)],
            [(20.0, 20.0), (20.0, 20.0), (20.0, 20.0), (20.0, 20.0)],
        ):
            rl = np.array([p[0] for p in ring])
            rt = np.array([p[1] for p in ring])
            got = G.points_in_ring(np.array([10.5, 20.0]), np.array([10.0, 20.0]), rl, rt)
            assert not got.any()

    def test_bowtie_parity_matches_oracle(self):
        ring = [(30.0, 30.0), (31.0, 31.0), (31.0, 30.0), (30.0, 31.0), (30.0, 30.0)]
        rng = np.random.default_rng(9)
        lon = rng.uniform(29.5, 31.5, 200)
        lat = rng.uniform(29.5, 31.5, 200)
        got = G.points_in_ring(lon, lat, np.array([p[0] for p in ring]), np.array([p[1] for p in ring]))
        want = [oracle_point_in_ring(lon[i], lat[i], ring) for i in range(200)]
        np.testing.assert_array_equal(got, want)

    def test_boundary_convention_deterministic(self):
        # half-open convention: left + bottom edges IN, right + top edges OUT
        ring = [(-1.0, -1.0), (1.0, -1.0), (1.0, 1.0), (-1.0, 1.0), (-1.0, -1.0)]
        rl = np.array([p[0] for p in ring])
        rt = np.array([p[1] for p in ring])
        got = G.points_in_ring(np.array([-1.0, 1.0, 0.0, 0.0]), np.array([0.0, 0.0, -1.0, 1.0]), rl, rt)
        np.testing.assert_array_equal(got, [True, False, True, False])

    def test_random_cross_check_vs_oracle(self):
        from htrc_ingester_spark.data import polygons

        rng = np.random.default_rng(11)
        for poly in polygons():
            ring = poly["ring"]
            rl = np.array([p[0] for p in ring])
            rt = np.array([p[1] for p in ring])
            lon0, lat0, lon1, lat1 = G.ring_bbox(rl, rt)
            lon = rng.uniform(-180, 180, 300)
            lat = rng.uniform(-90, 90, 300)
            got = G.points_in_ring(lon, lat, rl, rt)
            want = [oracle_point_in_ring(lon[i], lat[i], ring) for i in range(300)]
            np.testing.assert_array_equal(got, want, err_msg=poly["poly_id"])

    def test_unwrap_ring_identity_on_planar_rings(self):
        """A ring whose every raw step is already in [-180, 180) must
        come back VERBATIM — the cumsum reconstruction perturbs
        non-dyadic steps by ~1 ulp of 180, which moved edges off
        exactly-representable grid-line coordinates and broke the
        batch-vs-per-poly cover decision identity (the regression is
        pinned end-to-end in test_spatial_operators)."""
        planar = np.array([-5.366258602296037, -5.2294921875, -5.2294921875, -5.37, -5.366258602296037])
        u = G.unwrap_ring(planar)
        assert u.tolist() == planar.tolist()  # bitwise, incl. the non-dyadic walk
        # wrap behavior unchanged: an antimeridian step still unwraps
        cross = np.array([179.5, -179.5, -179.0, 179.0, 179.5])
        uc = G.unwrap_ring(cross)
        assert uc[0] == 179.5 and uc[1] == 180.5  # continuous frame
        # polar-cap winding unchanged
        cap = np.array([0.0, 120.0, -120.0, 0.0])
        assert G.ring_winding(cap) == 1


class TestHaversine:
    def test_known_distance(self):
        # Paris → London ≈ 344 km
        d = float(G.haversine_m(48.8566, 2.3522, 51.5074, -0.1278))
        assert 330_000 < d < 360_000

    def test_lat_lower_bound(self):
        # distance >= pure-latitude arc (the kNN termination bound)
        rng = np.random.default_rng(13)
        lat1 = rng.uniform(-89, 89, 200)
        lat2 = rng.uniform(-89, 89, 200)
        lon1 = rng.uniform(-180, 180, 200)
        lon2 = rng.uniform(-180, 180, 200)
        d = G.haversine_m(lat1, lon1, lat2, lon2)
        arc = np.abs(lat2 - lat1) * np.pi / 180.0 * G.EARTH_RADIUS_M
        assert np.all(d >= arc - 1e-6)


class TestS2SQLParity:
    def test_sql_expr_matches_numpy_three_ways(self, spark):
        """geo/s2lite.s2_sql_expr must produce bit-identical cells to
        the numpy kernel in BOTH Spark SQL and DuckDB (the driver's
        oracle contract), including the pinned edge points."""
        import duckdb
        import numpy as np

        from htrc_ingester_spark import data
        from htrc_ingester_spark.geo import s2lite

        pdf = data.images_meta_pdf(300)[["image_id", "lon", "lat"]]
        want = s2lite.latlng_to_cell(pdf.lat.to_numpy(), pdf.lon.to_numpy(), 12)
        con = duckdb.connect()
        con.register("pts", pdf)
        got_d = (
            con.sql(f"select {s2lite.s2_sql_expr('lon','lat',12,'duckdb')} as c from pts")
            .df()
            .c.to_numpy()
        )
        assert (got_d == want).all()
        df = spark.createDataFrame(pdf)
        got_s = np.array(
            [r.c for r in df.selectExpr(f"{s2lite.s2_sql_expr('lon','lat',12,'spark')} as c").collect()]
        )
        assert (got_s == want).all()


class TestGeohash:
    def test_wikipedia_vector(self):
        import numpy as np

        from htrc_ingester_spark.geo import geohash as GH

        assert GH.encode(np.array([57.64911]), np.array([10.40744]), 11)[0] == "u4pruydqqvj"
        assert GH.encode(np.array([0.0]), np.array([0.0]), 4)[0] == "s000"

    def test_numpy_spark_duckdb_triple_parity(self, spark):
        import duckdb
        import numpy as np
        import pandas as pd
        from pyspark.sql import functions as F

        from htrc_ingester_spark.geo import geohash as GH

        rng = np.random.default_rng(5)
        pdf = pd.DataFrame(
            {
                "lon": np.concatenate([rng.uniform(-180, 180, 300), [-180.0, 180.0, 0.0]]),
                "lat": np.concatenate([rng.uniform(-90, 90, 300), [90.0, -90.0, 0.0]]),
            }
        )
        want = GH.encode(pdf.lat.to_numpy(), pdf.lon.to_numpy(), 6)
        got_spark = (
            spark.createDataFrame(pdf)
            .select(F.expr(GH.geohash_sql_expr("lon", "lat", 6, "spark")).alias("g"))
            .toPandas()["g"].to_numpy()
        )
        con = duckdb.connect()
        con.register("pts", pdf)
        got_duck = con.sql(
            f"select {GH.geohash_sql_expr('lon', 'lat', 6, 'duckdb')} as g from pts"
        ).df()["g"].to_numpy()
        assert (got_spark == want).all()
        assert (got_duck == want).all()


class TestPIPCrossingOracleGenerator:
    def test_random_rings_match_kernel(self):
        """The DuckDB crossing-count oracle generator must reproduce the
        numpy ray-cast kernel for ARBITRARY rings — random concave
        stars, antimeridian-straddling quads, and polar caps — not just
        the shipped fixtures (it is the flagship family's value gate)."""
        import duckdb
        import numpy as np
        import pandas as pd

        from htrc_ingester_spark.geo.geometry import points_in_ring
        from htrc_ingester_spark.plans.catalog import pip_crossing_oracle_sql

        rng = np.random.default_rng(17)
        polys = []
        # concave stars at random centers/orientations
        for i in range(4):
            clon = rng.uniform(-170, 170)
            clat = rng.uniform(-60, 60)
            spikes = rng.integers(5, 9)
            ring = []
            for k in range(2 * spikes):
                ang = 2 * np.pi * k / (2 * spikes) + rng.uniform(0, 0.3)
                r = rng.uniform(3, 8) if k % 2 == 0 else rng.uniform(0.5, 2)
                ring.append((clon + r * np.cos(ang), clat + r * np.sin(ang)))
            ring.append(ring[0])
            polys.append({"poly_id": f"star{i}", "ring": ring})
        # antimeridian quads
        for i in range(2):
            w = rng.uniform(0.5, 3)
            lat0 = rng.uniform(-50, 40)
            polys.append(
                {
                    "poly_id": f"anti{i}",
                    "ring": [
                        (180 - w, lat0), (-180 + w, lat0),
                        (-180 + w, lat0 + 5), (180 - w, lat0 + 5),
                        (180 - w, lat0),
                    ],
                }
            )
        # polar caps (north + south) at random latitudes
        for i, sgn in enumerate((1, -1)):
            latc = sgn * rng.uniform(70, 85)
            polys.append(
                {
                    "poly_id": f"cap{i}",
                    "ring": [(lon, latc) for lon in range(-180, 181, 40)],
                }
            )

        n = 4000
        pts = pd.DataFrame(
            {
                "image_id": np.arange(n),
                "lon": rng.uniform(-180, 180, n),
                "lat": rng.uniform(-90, 90, n),
            }
        )
        con = duckdb.connect()
        con.register("pts_tbl", pts)
        sql = pip_crossing_oracle_sql(
            polys, "select image_id, lon, lat from pts_tbl"
        )
        got = con.sql(sql).df()
        for p in polys:
            rl = np.array([v[0] for v in p["ring"]])
            rt = np.array([v[1] for v in p["ring"]])
            want_ids = set(
                pts.image_id.to_numpy()[
                    points_in_ring(pts.lon.to_numpy(), pts.lat.to_numpy(), rl, rt)
                ]
            )
            got_ids = set(got[got.poly_id == p["poly_id"]].image_id)
            assert got_ids == want_ids, p["poly_id"]


class TestWebMercatorQuadkey:
    def test_known_bing_example(self, spark):
        """Seattle (lat 47.61, lon -122.33) at level 8: tile (41, 89)
        per the published slippy-map formula; hand-interleaving
        x=41=b00101001, y=89=b01011001 MSB-first gives '02123003'."""
        from htrc_ingester_spark.geo.webmercator import quadkey, tile_xy

        x, y = tile_xy(-122.33, 47.61, 8)
        assert (int(x), int(y)) == (41, 89)
        assert quadkey(-122.33, 47.61, 8)[0] == "02123003"

    def test_sql_expr_matches_numpy_reference(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from htrc_ingester_spark.geo.webmercator import quadkey, quadkey_sql_expr

        lons = np.linspace(-179.9, 179.9, 97)
        lats = np.linspace(-88.0, 88.0, 97)  # beyond clamp at both ends
        df = spark.createDataFrame(
            [(float(a), float(b)) for a, b in zip(lons, lats)], "lon double, lat double"
        )
        got = (
            df.withColumn("qk", F.expr(quadkey_sql_expr("lon", "lat", 9, "spark")))
            .orderBy("lon")
            .collect()
        )
        want = quadkey(lons, lats, 9)
        assert [r.qk for r in got] == list(want)

    def test_prefix_hierarchy(self, spark):
        """Level-z quadkey of a point is a prefix of its level-(z+1)
        quadkey — the parent-tile property range scans rely on."""
        from htrc_ingester_spark.geo.webmercator import quadkey

        pts = [(-122.42, 37.77), (2.35, 48.86), (139.69, 35.68), (0.0, 0.0)]
        for lon, lat in pts:
            q5 = quadkey(lon, lat, 5)[0]
            q9 = quadkey(lon, lat, 9)[0]
            assert q9.startswith(q5) and len(q5) == 5 and len(q9) == 9

    def test_zoom_bounds(self):
        import pytest as _pytest

        from htrc_ingester_spark.geo.webmercator import quadkey_sql_expr, tile_xy

        with _pytest.raises(ValueError):
            tile_xy(0.0, 0.0, 24)
        with _pytest.raises(ValueError):
            quadkey_sql_expr("lon", "lat", 0)
