"""Raster dissolve (connected components) + region overlay tests:
pure-python oracle parity, antimeridian/pole adjacency, distributed
pointer-jumping loop ≡ driver union-find, overlay relations."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from htrc_ingester_spark.geo import h3lite as H
from htrc_ingester_spark.operators import dissolve as DV

RES = 5  # nx=128, ny=64


def pack(x: int, y: int, res: int = RES) -> int:
    return res * (1 << 56) + x * (1 << 28) + y


def cells_df(spark, xy, res: int = RES, values=None):
    cells = [pack(x, y, res) for x, y in xy]
    pdf = pd.DataFrame({"cell": np.array(cells, dtype=np.int64)})
    if values is not None:
        pdf["value"] = values
    return spark.createDataFrame(pdf)


class TestConnectedComponents:
    def test_two_blobs_and_a_snake(self, spark):
        # blob A: 2x2 at (10,10); blob B: single cell at (50,50);
        # snake: an L of 5 cells at (30,30) — diagonals must NOT merge
        xy = [(10, 10), (11, 10), (10, 11), (11, 11), (50, 50),
              (30, 30), (31, 30), (32, 30), (32, 31), (32, 32),
              (33, 33)]  # diagonal neighbor of the snake head — separate
        got = (
            DV.connected_components(cells_df(spark, xy), RES)
            .toPandas().sort_values("cell").reset_index(drop=True)
        )
        comp_of = dict(zip(got.cell, got.comp))
        a = {comp_of[pack(x, y)] for x, y in xy[:4]}
        snake = {comp_of[pack(x, y)] for x, y in xy[5:10]}
        assert len(a) == 1 and len(snake) == 1
        assert comp_of[pack(50, 50)] not in a | snake
        assert comp_of[pack(33, 33)] != comp_of[pack(32, 32)]  # no diagonal
        # comp is the MIN cell id of its component
        assert min(pack(x, y) for x, y in xy[:4]) in a

    def test_antimeridian_wrap_merges_x_edges(self, spark):
        nxr = H.nx(RES)
        xy = [(nxr - 1, 20), (0, 20)]  # adjacent across the wrap
        got = DV.connected_components(cells_df(spark, xy), RES).toPandas()
        assert got.comp.nunique() == 1

    def test_pole_does_not_wrap_y(self, spark):
        nyr = H.ny(RES)
        xy = [(5, nyr - 1), (5, 0)]  # top and bottom rows — NOT adjacent
        got = DV.connected_components(cells_df(spark, xy), RES).toPandas()
        assert got.comp.nunique() == 2

    def test_distributed_loop_matches_driver_unionfind(self, spark, forced):
        rng = np.random.default_rng(7)
        xy = {(int(x), int(y)) for x, y in zip(rng.integers(0, 64, 300), rng.integers(0, 48, 300))}
        df = cells_df(spark, sorted(xy))
        drv = (
            DV.connected_components(df, RES)
            .toPandas().sort_values("cell").reset_index(drop=True)
        )
        with forced():
            dist = (
                DV.connected_components(df, RES)
                .toPandas().sort_values("cell").reset_index(drop=True)
            )
        pd.testing.assert_frame_equal(drv, dist)

    def test_matches_pure_python_bfs_oracle(self, spark):
        rng = np.random.default_rng(11)
        xy = sorted({(int(x), int(y)) for x, y in zip(rng.integers(0, 32, 200), rng.integers(0, 24, 200))})
        got = (
            DV.connected_components(cells_df(spark, xy), RES)
            .toPandas().sort_values("cell").reset_index(drop=True)
        )
        # independent BFS oracle (no union-find, no label propagation)
        nxr = H.nx(RES)
        cells = {pack(x, y) for x, y in xy}
        seen: dict[int, int] = {}
        for start in sorted(cells):
            if start in seen:
                continue
            comp_cells, stack = [], [start]
            seen[start] = -1
            while stack:
                c = stack.pop()
                comp_cells.append(c)
                x = (c >> 28) & ((1 << 28) - 1)
                y = c & ((1 << 28) - 1)
                for nb in (
                    c - x * (1 << 28) + ((x + 1) % nxr) * (1 << 28),
                    c - x * (1 << 28) + ((x - 1) % nxr) * (1 << 28),
                    c + 1, c - 1,
                ):
                    if nb in cells and nb not in seen:
                        seen[nb] = -1
                        stack.append(nb)
            m = min(comp_cells)
            for c in comp_cells:
                seen[c] = m
        want = pd.DataFrame(
            sorted(seen.items()), columns=["cell", "comp"]
        ).astype("int64")
        pd.testing.assert_frame_equal(got, want)


class TestEdgeComponents:
    def test_arbitrary_edges_chain_and_string_ids(self, spark):
        pairs = spark.createDataFrame(
            pd.DataFrame({"id_a": ["a", "b", "x"], "id_b": ["b", "c", "y"]})
        )
        got = (
            DV.connected_components_edges(pairs)
            .toPandas().sort_values("node").reset_index(drop=True)
        )
        m = dict(zip(got.node, got.cluster))
        assert m["a"] == m["b"] == m["c"] == "a"  # chain is transitive
        assert m["x"] == m["y"] == "x"

    def test_distributed_loop_matches_driver_on_edges(self, spark, forced):
        rng = np.random.default_rng(3)
        pairs = pd.DataFrame(
            {"id_a": rng.integers(0, 200, 300), "id_b": rng.integers(0, 200, 300)}
        ).query("id_a != id_b")
        df = spark.createDataFrame(pairs)
        drv = (
            DV.connected_components_edges(df)
            .toPandas().sort_values("node").reset_index(drop=True)
        )
        with forced():
            dist = (
                DV.connected_components_edges(df)
                .toPandas().sort_values("node").reset_index(drop=True)
            )
        pd.testing.assert_frame_equal(
            drv.astype({"node": "int64", "cluster": "int64"}),
            dist.astype({"node": "int64", "cluster": "int64"}),
        )


def _bfs_min_labels(src, dst) -> dict:
    """Independent oracle: component minimum of every node by BFS."""
    adj: dict = {}
    for a, b in zip(src, dst):
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out: dict = {}
    for start in adj:
        if start in out:
            continue
        comp, stack, seen = [], [start], {start}
        while stack:
            n = stack.pop()
            comp.append(n)
            for m in adj[n] - seen:
                seen.add(m)
                stack.append(m)
        lo = min(comp)
        out.update((n, lo) for n in comp)
    return out


def _edge_cases():
    rng = np.random.default_rng(5)
    chain = rng.permutation(5000)
    return {
        "random_sparse": (rng.integers(0, 500, 300), rng.integers(0, 500, 300)),
        "random_dense": (rng.integers(0, 300, 2000), rng.integers(0, 300, 2000)),
        "random_id_chain_5000": (chain[:-1], chain[1:]),
        "string_ids": (np.array(["b", "x", "c", "q", "y"], dtype=object),
                       np.array(["a", "y", "b", "q", "z"], dtype=object)),
        "empty": (np.array([], dtype=np.int64), np.array([], dtype=np.int64)),
        "self_loops_only": (np.array([4, 9, 4]), np.array([4, 9, 4])),
    }


@pytest.mark.parametrize("case", sorted(_edge_cases()))
def test_cc_labels_match_bfs(case):
    """The driver labeller (np.unique node index + _cc_labels) gives
    every node its component's minimum id, exactly as a BFS does."""
    src, dst = _edge_cases()[case]
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    lab = DV._cc_labels(len(nodes), inv[: len(src)], inv[len(src):])
    assert dict(zip(nodes.tolist(), nodes[lab].tolist())) == _bfs_min_labels(
        src.tolist(), dst.tolist()
    )


class TestRegionOverlay:
    def test_all_four_relations(self, spark):
        # a1 = 3-cell bar, b1 = its middle cell (within/contains)
        # a2 = 2-cell bar  ≡ b2 (equals)
        # a3 = 2-cell bar, b3 = 2-cell bar shifted by one (overlaps)
        def labeled(spark, rows):
            return spark.createDataFrame(
                pd.DataFrame(rows, columns=["cell", "comp"]).astype("int64")
            )

        a = labeled(spark, [
            (pack(10, 10), 1), (pack(11, 10), 1), (pack(12, 10), 1),
            (pack(20, 20), 2), (pack(21, 20), 2),
            (pack(30, 30), 3), (pack(31, 30), 3),
        ])
        b = labeled(spark, [
            (pack(11, 10), 7),
            (pack(20, 20), 8), (pack(21, 20), 8),
            (pack(31, 30), 9), (pack(32, 30), 9),
        ])
        got = DV.region_overlay(a, b).toPandas().set_index(["comp_a", "comp_b"])
        assert got.loc[(1, 7)].relation == "contains"
        assert got.loc[(2, 8)].relation == "equals"
        assert got.loc[(3, 9)].relation == "overlaps"
        assert got.loc[(3, 9)].n_shared_cells == 1
        inv = DV.region_overlay(b, a).toPandas().set_index(["comp_a", "comp_b"])
        assert inv.loc[(7, 1)].relation == "within"

    def test_disjoint_pairs_absent(self, spark):
        a = spark.createDataFrame(pd.DataFrame({"cell": [pack(1, 1)], "comp": [1]}).astype("int64"))
        b = spark.createDataFrame(pd.DataFrame({"cell": [pack(5, 5)], "comp": [2]}).astype("int64"))
        assert DV.region_overlay(a, b).count() == 0


class TestRegionBoundary:
    def test_known_shapes(self, spark):
        # single cell → 4 edges; 2x2 blob → 8; 1x3 bar → 8
        xy = [(5, 5),
              (10, 10), (11, 10), (10, 11), (11, 11),
              (20, 20), (21, 20), (22, 20)]
        df = cells_df(spark, xy)
        lab = DV.connected_components(df, RES)
        got = (
            DV.region_boundary_stats(lab.withColumn("value", F.lit(1.0)), RES)
            .toPandas().set_index("comp")
        )
        single, blob, bar = pack(5, 5), pack(10, 10), pack(20, 20)
        assert got.loc[single].perimeter_edges == 4
        assert got.loc[blob].perimeter_edges == 8 and got.loc[blob].n_cells == 4
        assert got.loc[bar].perimeter_edges == 8 and got.loc[bar].n_cells == 3

    def test_full_longitude_ring_has_no_ew_boundary(self, spark):
        nxr = H.nx(RES)
        xy = [(x, 30) for x in range(nxr)]
        lab = DV.connected_components(cells_df(spark, xy), RES)
        got = DV.region_boundary_stats(lab, RES).toPandas()
        assert len(got) == 1
        # a full ring: only the N and S edges remain → 2·nx
        assert got.perimeter_edges[0] == 2 * nxr

    def test_pole_row_counts_pole_edge(self, spark):
        got = DV.region_boundary_stats(
            DV.connected_components(cells_df(spark, [(3, 0)]), RES), RES
        ).toPandas()
        assert got.perimeter_edges[0] == 4  # the lat=-90 side is boundary


class TestDissolveRollup:
    def test_threshold_and_value_rollup(self, spark):
        xy = [(10, 10), (11, 10), (50, 50)]
        df = cells_df(spark, xy, values=[5.0, 3.0, 1.0])
        d = DV.dissolve(df, RES, threshold=2.0)  # drops the lone (50,50)
        out = DV.dissolve_regions(d).toPandas()
        assert len(out) == 1
        assert out.n_cells[0] == 2 and out.total_value[0] == 8
        d.unpersist()


class TestClusterPoints:
    def _points(self, spark):
        # two hotspots (several points per cell, touching cells) + two
        # isolated single points (noise at min_pts=2)
        rows = []
        pid = 0

        def cell_center(x, y, res=RES):
            lon = (x + 0.5) / H.nx(res) * 360.0 - 180.0
            lat = (y + 0.5) / H.ny(res) * 180.0 - 90.0
            return lon, lat

        # hotspot A: cells (10,10),(11,10) with 3 points each
        for x, y in [(10, 10), (11, 10)]:
            lon, lat = cell_center(x, y)
            for _ in range(3):
                rows.append((f"p{pid}", lon, lat)); pid += 1
        # hotspot B: cell (40,20) with 2 points
        lon, lat = cell_center(40, 20)
        rows += [(f"p{pid}", lon, lat), (f"p{pid+1}", lon, lat)]; pid += 2
        # noise: two isolated single points
        for x, y in [(60, 30), (90, 40)]:
            lon, lat = cell_center(x, y)
            rows.append((f"p{pid}", lon, lat)); pid += 1
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["image_id", "lon", "lat"])
        )

    def test_clusters_and_noise(self, spark):
        pts = self._points(spark)
        got = DV.cluster_points(pts, res=RES, min_pts=2).toPandas()
        # 8 clustered points (6 in A, 2 in B), noise dropped
        assert len(got) == 8
        by_cluster = got.groupby("cluster")["image_id"].count().to_dict()
        a_label = pack(10, 10)  # min cell id of {(10,10),(11,10)}
        b_label = pack(40, 20)
        assert by_cluster == {a_label: 6, b_label: 2}
        keep = DV.cluster_points(pts, res=RES, min_pts=2, keep_noise=True).toPandas()
        assert len(keep) == 10
        assert keep["cluster"].isna().sum() == 2

    def test_min_pts_one_keeps_everything(self, spark):
        pts = self._points(spark)
        got = DV.cluster_points(pts, res=RES, min_pts=1).toPandas()
        assert len(got) == 10
        assert got["cluster"].notna().all()


def test_cluster_points_preserves_caller_cell_column(spark):
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": ["a", "b", "c"],
                "lon": [10.0, 10.0, 10.0],
                "lat": [20.0, 20.0, 20.0],
                "cell": ["keep-me", "keep-me", "keep-me"],  # unrelated user column
            }
        )
    )
    got = DV.cluster_points(pts, res=RES, min_pts=2).toPandas()
    assert len(got) == 3
    assert (got["cell"] == "keep-me").all()
    assert got["cluster"].notna().all()


class TestIsobands:
    def test_band_boundary_splits_regions(self, spark):
        """A horizontal strip of touching cells whose values straddle a
        break: plain dissolve would merge them all; isobands must split
        at the band boundary and label isolated cells with themselves."""
        xy = [(10, 10), (11, 10), (12, 10), (13, 10), (14, 10), (40, 40)]
        vals = [1.0, 1.0, 5.0, 5.0, 5.0, 9.0]
        df = cells_df(spark, xy, values=vals)
        got = DV.isobands(df, RES, breaks=[3.0]).toPandas()
        m = {int(r.cell): (int(r.band), int(r.comp)) for r in got.itertuples(index=False)}
        lo = [pack(10, 10), pack(11, 10)]
        hi = [pack(12, 10), pack(13, 10), pack(14, 10)]
        assert {m[c][0] for c in lo} == {0} and {m[c][0] for c in hi} == {1}
        assert {m[c][1] for c in lo} == {min(lo)}
        assert {m[c][1] for c in hi} == {min(hi)}
        # isolated high cell: own component, band 1
        assert m[pack(40, 40)] == (1, pack(40, 40))

    def test_band_expr_counts_breaks(self, spark):
        rows = spark.sql(
            "select " + DV.band_expr("v", [2.0, 5.0, 15.0])
            + " as b from values (1.0), (2.0), (4.9), (5.0), (99.0) as t(v)"
        ).collect()
        assert [r.b for r in rows] == [0, 1, 1, 2, 3]

    def test_breaks_must_ascend(self):
        with pytest.raises(ValueError):
            DV.band_expr("v", [5.0, 2.0])
