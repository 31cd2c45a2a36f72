"""Polygon rasterization + buffering: the cell set within ``radius_m``
of a polygon (interior included) — `ST_Buffer` ∘ rasterize on the
shared equirectangular grid.

At ``radius_m=0`` this is exact polygon→raster conversion
(center-in-polygon rule), the missing inverse of tiles.vectorize /
dissolve (cells→regions). With a radius it answers the classic
proximity questions (coastal strip, corridor around a border,
exclusion zone around a protected area) as a CELL SET that composes
with every raster operator in the family (zonal stats, focal, CC,
mosaic).

Semantics per (poly, cell): cell ∈ buffer ⇔ the CELL CENTER is inside
the polygon (even-odd over its rings — holes supported) OR within
``radius_m`` of any ring edge (map_match's flat-earth point-to-segment
distance, geometry valid away from the poles). Antimeridian-crossing
rings work via the same unwrapped-frame + floor-mod longitude shift as
the PIP kernel; polar-cap rings (winding ≠ 0) are rejected — a
flat-earth buffer at the pole is ill-defined (use pip_join's cap
machinery for cap membership instead).

Plan shape: ring bboxes (expanded by the radius, with the conservative
``r/cos(max|lat|)`` longitude expansion proven in knn_join's cover
argument) explode to their cell grid — a map-side ``sequence`` fan-out
distributed per polygon row; one distinct on (poly_id, x, y) so
overlapping ring bboxes can't double parity edges; then ONE
(poly_id, cell)-keyed aggregate computes the crossing parity and the
min edge distance against the BROADCAST edge list. Two exchanges
total, both keyed by output cells, independent of polygon count.
Fan-out per polygon is its expanded-bbox cell count — pick ``res``
against the radius (radius_res discipline) to bound it; very diagonal
polygons pay the bbox slack, the documented refinement being the
pip_join adaptive cover.

The DuckDB oracle (polygon_buffer_oracle_sql) enumerates the SAME
ranges by generate_series and re-applies the tests from the SAME
formula templates — the ranges themselves are computed once in Python
from the fixture (like the PIP oracle's ring unwrap), so no
cross-engine float drift can enter candidate enumeration.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geo import h3lite as H
from ..geo.geometry import unwrap_ring
from .map_match import snap_sql_exprs
from .pip_join import poly_rings

M_PER_DEG = float(H.M_PER_DEG_LAT)


def _d(x: float) -> str:
    return f"cast('{float(x)!r}' as double)"


def _fmod360(expr: str) -> str:
    # numpy's % (a - floor(a/b)*b) — same formula as the PIP oracle
    return f"(({expr}) - floor(({expr}) / 360.0) * 360.0)"


def crossing_sql(lon: str, lat: str) -> str:
    """Even-odd crossing indicator for one edge row (columns x1 y1 x2
    y2 center) against a point — identical text in Spark SQL and
    DuckDB; the same half-open rule as geometry.points_in_ring."""
    plon = f"(center + ({_fmod360(f'{lon} - center + 180.0')} - 180.0))"
    xint = f"(x1 + (({lat}) - y1) * (x2 - x1) / (y2 - y1))"
    return f"(((y1 > ({lat})) != (y2 > ({lat}))) and {plon} < {xint})"


def edge_dist_sql(lon: str, lat: str) -> str:
    """Point-to-edge meters for one edge row, in the edge's unwrapped
    frame (same longitude shift as the crossing test)."""
    plon = f"(center + ({_fmod360(f'{lon} - center + 180.0')} - 180.0))"
    return snap_sql_exprs(plon, lat, "x1", "y1", "x2", "y2")["dist_m"]


def _prep(polys: list[dict], radius_m: float, res: int):
    """Driver-side fixture preprocessing (the PIP-oracle discipline):
    unwrapped edge rows + expanded ring bbox index ranges, shared
    verbatim by the operator and the oracle."""
    nxr, nyr = H.nx(res), H.ny(res)
    r_deg = float(radius_m) / M_PER_DEG
    edge_rows: list[tuple] = []
    range_rows: list[tuple] = []
    for p in polys:
        pid = p["poly_id"]
        for ring in poly_rings(p):
            r_lon = np.asarray(ring[:, 0], dtype=np.float64)
            r_lat = np.asarray(ring[:, 1], dtype=np.float64)
            if r_lon.shape[0] < 2:
                continue
            if r_lon[0] != r_lon[-1] or r_lat[0] != r_lat[-1]:
                r_lon = np.concatenate([r_lon, r_lon[:1]])
                r_lat = np.concatenate([r_lat, r_lat[:1]])
            u = unwrap_ring(r_lon)
            if int(round((u[-1] - u[0]) / 360.0)) != 0:
                raise ValueError(
                    f"polygon_buffer: polar-cap ring in {pid!r} (winding != 0)"
                )
            center = 0.5 * (float(u.min()) + float(u.max()))
            for x1, y1, x2, y2 in zip(u[:-1], r_lat[:-1], u[1:], r_lat[1:]):
                edge_rows.append((pid, float(x1), float(y1), float(x2), float(y2), center))
            max_abs_lat = min(float(np.abs(r_lat).max()) + r_deg, 89.0)
            lon_exp = r_deg / np.cos(np.radians(max_abs_lat))
            lo_x = float(u.min()) - lon_exp
            hi_x = float(u.max()) + lon_exp
            lo_y = max(float(r_lat.min()) - r_deg, -90.0)
            hi_y = min(float(r_lat.max()) + r_deg, 90.0)
            x0 = int(np.floor((lo_x + 180.0) / 360.0 * nxr))
            x1i = int(np.floor((hi_x + 180.0) / 360.0 * nxr))
            y0 = min(max(int(np.floor((lo_y + 90.0) / 180.0 * nyr)), 0), nyr - 1)
            y1i = min(max(int(np.floor((hi_y + 90.0) / 180.0 * nyr)), 0), nyr - 1)
            x1i = min(x1i, x0 + nxr - 1)  # never enumerate the globe twice
            range_rows.append((pid, x0, x1i, y0, y1i))
    return edge_rows, range_rows, nxr, nyr


def _center_exprs(nxr: int, nyr: int) -> tuple[str, str]:
    lon_c = f"(-180.0 + (x + 0.5) * {_d(360.0 / nxr)})"
    lat_c = f"(-90.0 + (y + 0.5) * {_d(180.0 / nyr)})"
    return lon_c, lat_c


def polygon_buffer(
    spark: SparkSession, polys: list[dict], radius_m: float, res: int
) -> DataFrame:
    """(poly_id, cell) — cells at ``res`` whose center is inside the
    polygon or within ``radius_m`` of its boundary."""
    edge_rows, range_rows, nxr, nyr = _prep(polys, radius_m, res)
    if not edge_rows:
        return spark.createDataFrame([], "poly_id string, cell long")
    edges = spark.createDataFrame(
        edge_rows, "poly_id string, x1 double, y1 double, x2 double, y2 double, center double"
    )
    ranges = spark.createDataFrame(
        range_rows, "poly_id string, x0 long, xe long, y0 long, ye long"
    )
    lon_c, lat_c = _center_exprs(nxr, nyr)
    cand = (
        ranges.select(
            "poly_id", F.explode(F.expr("sequence(x0, xe)")).alias("xr"), "y0", "ye"
        )
        .select("poly_id", "xr", F.explode(F.expr("sequence(y0, ye)")).alias("y"))
        .select("poly_id", F.expr(f"((xr % {nxr}) + {nxr}) % {nxr}").alias("x"), "y")
        .distinct()  # overlapping ring bboxes must not double parity edges
        .selectExpr(
            "poly_id",
            f"{H.pack_sql(res, 'x', 'y')} as cell",
            f"{lon_c} as lon_c",
            f"{lat_c} as lat_c",
        )
    )
    hit = (
        cand.join(F.broadcast(edges), "poly_id")
        .groupBy("poly_id", "cell")
        .agg(
            F.expr(
                f"sum(case when {crossing_sql('lon_c', 'lat_c')} then 1 else 0 end)"
            ).alias("_par"),
            F.expr(f"min({edge_dist_sql('lon_c', 'lat_c')})").alias("_mind"),
        )
        .where(
            (F.col("_par") % 2 == 1) | (F.col("_mind") <= F.lit(float(radius_m)))
        )
    )
    return hit.select("poly_id", "cell")


def polygon_buffer_oracle_sql(
    polys: list[dict], radius_m: float, res: int
) -> str:
    """DuckDB twin: generate_series over the same ranges, the same
    crossing/distance templates, literal edges."""
    edge_rows, range_rows, nxr, nyr = _prep(polys, radius_m, res)
    lon_c, lat_c = _center_exprs(nxr, nyr)
    edge_vals = ", ".join(
        f"('{pid}', {_d(x1)}, {_d(y1)}, {_d(x2)}, {_d(y2)}, {_d(c)})"
        for pid, x1, y1, x2, y2, c in edge_rows
    )
    range_vals = ", ".join(
        f"('{pid}', {x0}, {xe}, {y0}, {ye})" for pid, x0, xe, y0, ye in range_rows
    )
    return f"""
    with ranges(poly_id, x0, xe, y0, ye) as (values {range_vals}),
    edges(poly_id, x1, y1, x2, y2, center) as (values {edge_vals}),
    cand as (
      select distinct poly_id,
             ((gx.x % {nxr}) + {nxr}) % {nxr} as x, gy.y as y
      from ranges
      cross join lateral (select unnest(generate_series(x0, xe)) as x) gx
      cross join lateral (select unnest(generate_series(y0, ye)) as y) gy),
    cells as (
      select poly_id, {H.pack_sql(res, 'x', 'y')} as cell,
             {lon_c} as lon_c, {lat_c} as lat_c
      from cand),
    tests as (
      select c.poly_id, c.cell,
             sum(case when {crossing_sql('lon_c', 'lat_c')} then 1 else 0 end) as par,
             min({edge_dist_sql('lon_c', 'lat_c')}) as mind
      from cells c join edges e on c.poly_id = e.poly_id
      group by 1, 2)
    select poly_id, cell from tests
    where par % 2 = 1 or mind <= {_d(radius_m)}
    """
