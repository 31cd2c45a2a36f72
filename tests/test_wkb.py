"""geo/wkb.py: WKB binary ⇄ flat even-odd ring list. Same exactness
discipline as test_wkt — float64 is bit-exact on the WKB wire, so every
round-trip must be bit-for-bit, and the decoder must reject anything
that is not a lon/lat Polygon/MultiPolygon rather than misread it."""

from __future__ import annotations

import struct

import pytest

from htrc_ingester_spark import data
from htrc_ingester_spark.geo.wkb import (
    polys_from_wkb,
    rings_to_wkb,
    wkb_to_rings,
)


class TestRoundTrip:
    def test_every_holes_fixture_roundtrips_exactly(self):
        """Both byte orders (the fixture alternates them) must
        reproduce every ring list bit-for-bit, including the
        MultiPolygon-with-holes grouping."""
        parsed = dict(
            (p["poly_id"], p["rings"]) for p in polys_from_wkb(data.polygons_holes_wkb())
        )
        for p in data.polygons_holes():
            want = [[(float(a), float(b)) for a, b in r] for r in p["rings"]]
            assert parsed[p["poly_id"]] == want

    def test_single_ring_polygons_roundtrip_both_orders(self):
        for p in data.polygons():
            ring = [(float(a), float(b)) for a, b in p["ring"]]
            for be in (False, True):
                assert wkb_to_rings(rings_to_wkb([ring], big_endian=be)) == [ring]

    def test_wkb_matches_wkt_parse(self):
        """Binary and text serializations of the same fixture must
        decode to the SAME ring lists."""
        from htrc_ingester_spark.geo.wkt import polys_from_wkt

        via_wkt = {p["poly_id"]: p["rings"] for p in polys_from_wkt(data.polygons_holes_wkt())}
        via_wkb = {p["poly_id"]: p["rings"] for p in polys_from_wkb(data.polygons_holes_wkb())}
        assert via_wkt == via_wkb


class TestRoundTripFuzz:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _coord = st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    )
    _ring = st.lists(st.tuples(_coord, _coord), min_size=3, max_size=12)
    _rings = st.lists(_ring, min_size=1, max_size=5)

    @given(rings=_rings, big_endian=st.booleans())
    @settings(max_examples=200, deadline=None)
    def test_arbitrary_rings_roundtrip_bitexact(self, rings, big_endian):
        got = wkb_to_rings(rings_to_wkb(rings, big_endian=big_endian))
        assert got == [[(float(a), float(b)) for a, b in r] for r in rings]

    @given(rings=_rings, n_groups=st.integers(min_value=1, max_value=3))
    @settings(max_examples=100, deadline=None)
    def test_grouped_multipolygon_roundtrip(self, rings, n_groups):
        n_groups = min(n_groups, len(rings))
        groups = [list(range(i, len(rings), n_groups)) for i in range(n_groups)]
        flat_order = [i for g in groups for i in g]
        got = wkb_to_rings(rings_to_wkb(rings, groups=groups))
        assert got == [[(float(a), float(b)) for a, b in rings[i]] for i in flat_order]


class TestNumpyTwins:
    """wkb_to_ring_arrays / ring_arrays_to_wkb: the executor-hot numpy
    twins (the cover-as-table regime decodes every polygon with them
    inside its kernels). Contract: IDENTICAL validation and
    bit-identical values to the reference decoder, and the transport
    encoder's output is readable by BOTH decoders."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    _coord = st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    )
    _ring = st.lists(st.tuples(_coord, _coord), min_size=3, max_size=12)
    _rings = st.lists(_ring, min_size=1, max_size=5)

    @given(rings=_rings, big_endian=st.booleans())
    @settings(max_examples=200, deadline=None)
    def test_array_decoder_matches_reference_decoder(self, rings, big_endian):
        import numpy as np

        from htrc_ingester_spark.geo.wkb import wkb_to_ring_arrays

        blob = rings_to_wkb(rings, big_endian=big_endian)
        ref = wkb_to_rings(blob)
        arr = wkb_to_ring_arrays(blob)
        assert len(arr) == len(ref)
        for a, r in zip(arr, ref):
            assert a.dtype == np.float64 and a.shape == (len(r), 2)
            assert a.tolist() == [[x, y] for x, y in r]

    @given(rings=_rings, n_groups=st.integers(min_value=1, max_value=3))
    @settings(max_examples=100, deadline=None)
    def test_array_decoder_matches_on_grouped_multipolygon(self, rings, n_groups):
        from htrc_ingester_spark.geo.wkb import wkb_to_ring_arrays

        n_groups = min(n_groups, len(rings))
        groups = [list(range(i, len(rings), n_groups)) for i in range(n_groups)]
        blob = rings_to_wkb(rings, groups=groups)
        assert [a.tolist() for a in wkb_to_ring_arrays(blob)] == [
            [[x, y] for x, y in r] for r in wkb_to_rings(blob)
        ]

    @given(rings=_rings)
    @settings(max_examples=100, deadline=None)
    def test_transport_encoder_roundtrips_through_both_decoders(self, rings):
        import numpy as np

        from htrc_ingester_spark.geo.wkb import (
            ring_arrays_to_wkb,
            wkb_to_ring_arrays,
        )

        arrays = [np.asarray(r, dtype=np.float64) for r in rings]
        blob = ring_arrays_to_wkb(arrays)
        back = wkb_to_ring_arrays(blob)
        assert len(back) == len(arrays)
        assert all((b == a).all() for b, a in zip(back, arrays))
        # the reference decoder reads the same flat even-odd list
        assert wkb_to_rings(blob) == [
            [(float(x), float(y)) for x, y in r] for r in rings
        ]

    def test_rejects_the_same_malformed_inputs(self):
        """Every blob the reference decoder rejects, the numpy twin
        must reject too — same ValueError discipline, no misreads."""
        from htrc_ingester_spark.geo.wkb import wkb_to_ring_arrays

        ok = rings_to_wkb([[(0.0, 0.0), (1.0, 0.0), (0.0, 1.0)]])
        bad = [
            b"",  # truncated header
            b"\x07" + ok[1:],  # bad byte-order marker
            struct.pack("<BI", 1, 1),  # Point type
            struct.pack("<BI", 1, 3 | 0x80000000),  # EWKB Z flag
            struct.pack("<BII", 1, 1003, 0),  # ISO Z offset
            ok + b"\x00",  # trailing byte
            ok[:-1],  # truncated coordinates
            struct.pack("<BIII", 1, 3, 1, 2) + b"\x00" * 32,  # 2-vertex ring
        ]
        for blob in bad:
            with pytest.raises(ValueError):
                wkb_to_rings(blob)
            with pytest.raises(ValueError):
                wkb_to_ring_arrays(blob)


class TestDecoderRobustness:
    def _poly_wkb(self, typ: int, big_endian: bool = False, srid: int | None = None):
        e = ">" if big_endian else "<"
        out = bytearray([0 if big_endian else 1])
        t = typ | (0x20000000 if srid is not None else 0)
        out += struct.pack(e + "I", t)
        if srid is not None:
            out += struct.pack(e + "I", srid)
        ring = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0)]
        out += struct.pack(e + "I", 1) + struct.pack(e + "I", len(ring))
        for x, y in ring:
            out += struct.pack(e + "dd", x, y)
        return bytes(out), ring

    def test_ewkb_srid_accepted_and_skipped(self):
        buf, ring = self._poly_wkb(3, srid=4326)
        assert wkb_to_rings(buf) == [ring]
        buf, ring = self._poly_wkb(3, big_endian=True, srid=4326)
        assert wkb_to_rings(buf) == [ring]

    def test_rejects_zm_iso_and_ewkb(self):
        for typ in (1003, 2003, 3003):  # ISO Z / M / ZM polygon
            with pytest.raises(ValueError, match="Z/M"):
                wkb_to_rings(self._poly_wkb(typ)[0])
        for flag in (0x80000000, 0x40000000):  # EWKB Z / M flags
            with pytest.raises(ValueError, match="Z/M"):
                wkb_to_rings(self._poly_wkb(3 | flag)[0])

    def test_rejects_other_geometries_and_garbage(self):
        with pytest.raises(ValueError, match="not a Polygon"):
            wkb_to_rings(self._poly_wkb(1)[0])  # Point header
        with pytest.raises(ValueError, match="byte-order"):
            wkb_to_rings(b"\x07\x00\x00\x00")
        with pytest.raises(ValueError, match="truncated"):
            wkb_to_rings(self._poly_wkb(3)[0][:-8])

    def test_rejects_trailing_bytes(self):
        with pytest.raises(ValueError, match="trailing"):
            wkb_to_rings(self._poly_wkb(3)[0] + b"\x00")

    def test_rejects_short_ring(self):
        e = "<"
        out = bytearray([1]) + struct.pack(e + "III", 3, 1, 2)
        out += struct.pack(e + "dddd", 0, 0, 1, 1)
        with pytest.raises(ValueError, match="<3 vertices"):
            wkb_to_rings(bytes(out))

    def test_empty_geometries(self):
        e = "<"
        empty_poly = bytes([1]) + struct.pack(e + "II", 3, 0)
        assert wkb_to_rings(empty_poly) == []
        empty_multi = bytes([1]) + struct.pack(e + "II", 6, 0)
        assert wkb_to_rings(empty_multi) == []
        assert polys_from_wkb([("e", empty_poly)]) == []

    def test_mixed_endianness_parts(self):
        """A little-endian MULTIPOLYGON wrapping a big-endian part is
        legal WKB — each geometry header re-declares its order."""
        part_be, ring = self._poly_wkb(3, big_endian=True)
        e = "<"
        buf = bytes([1]) + struct.pack(e + "II", 6, 1) + part_be
        assert wkb_to_rings(buf) == [ring]


class TestTransportNormalization:
    """ring_arrays_to_wkb is the engine's INTERNAL wire encoder: the
    spec-list API tolerates degenerate (<3-vertex) rings as even-odd
    no-ops (geometry.points_in_ring returns all-False below 3
    vertices), so the encoder normalizes them away — otherwise a
    tolerated driver spec crashed the table regime's strict executor
    decode while the broadcast regime accepted it (self-review r5)."""

    def test_degenerate_rings_dropped_on_encode(self):
        import numpy as np

        from htrc_ingester_spark.geo.wkb import (
            ring_arrays_to_wkb,
            wkb_to_ring_arrays,
        )

        shell = np.array(
            [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]]
        )
        deg2 = np.array([[1.0, 1.0], [2.0, 2.0]])
        blob = ring_arrays_to_wkb([shell, deg2, deg2[:1]])
        got = wkb_to_ring_arrays(blob)
        assert len(got) == 1
        assert np.array_equal(got[0], shell)
        # the strict text-tuple decoder accepts the same blob
        assert len(wkb_to_rings(blob)) == 1

    def test_all_degenerate_encodes_empty_polygon(self):
        import numpy as np

        from htrc_ingester_spark.geo.wkb import ring_arrays_to_wkb

        deg2 = np.array([[1.0, 1.0], [2.0, 2.0]])
        assert wkb_to_rings(ring_arrays_to_wkb([deg2])) == []


class TestSparkColumnIngestion:
    def test_wkb_column_to_pip_join_matches_direct_spec(self, spark):
        """End-to-end: WKB in a Spark BINARY column (the GeoParquet
        arrival shape) → parsed spec → pip_join equals pip_join on the
        original dict spec."""
        from htrc_ingester_spark.geo.wkb import polys_from_wkb_column
        from htrc_ingester_spark.operators.pip_join import pip_join

        pdf = data.images_meta_pdf(300)
        pts = spark.createDataFrame(pdf[["image_id", "lon", "lat"]])
        wdf = spark.createDataFrame(
            data.polygons_holes_wkb(), "poly_id string, wkb binary"
        )
        parsed = polys_from_wkb_column(wdf)
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
        from htrc_ingester_spark.geo import wkb
        from htrc_ingester_spark.operators import pip_join

        wdf = spark.createDataFrame(
            data.polygons_holes_wkb(), "poly_id string, wkb binary"
        )
        n = wdf.count()
        monkeypatch.setattr(pip_join, "_TABLE_POLYS_BUDGET", n)
        assert len(wkb.polys_from_wkb_column(wdf)) == len(polys_from_wkb(data.polygons_holes_wkb()))
        monkeypatch.setattr(pip_join, "_TABLE_POLYS_BUDGET", n - 1)
        with pytest.raises(ValueError, match="polys_df_from_wkb_column.*pip_join_table"):
            wkb.polys_from_wkb_column(wdf)

    def test_wkb_survives_parquet_roundtrip(self, spark, tmp_path):
        """Write the WKB column to parquet and read it back — the
        GeoParquet interchange in miniature; bytes must be identical."""
        from htrc_ingester_spark.geo.wkb import polys_from_wkb_column

        wdf = spark.createDataFrame(
            data.polygons_holes_wkb(), "poly_id string, wkb binary"
        )
        path = str(tmp_path / "geo.parquet")
        wdf.write.mode("overwrite").parquet(path)
        back = polys_from_wkb_column(spark.read.parquet(path))
        want = {p["poly_id"]: p["rings"] for p in polys_from_wkb(data.polygons_holes_wkb())}
        assert {p["poly_id"]: p["rings"] for p in back} == want


class TestDistributedDecode:
    def test_distributed_decode_equals_driver_decode(self, spark):
        """polys_df_from_wkb_column (executor-batch decode, the
        GeoParquet scale path) must produce exactly the rings the
        driver-side decoder produces — float64 bit-for-bit, empty
        geometries dropped on both paths."""
        from htrc_ingester_spark.geo.wkb import (
            polys_df_from_wkb_column,
            polys_from_wkb,
            rings_to_wkb,
            wkb_to_rings,
        )

        rows = data.polygons_holes_wkb() + [("empty", rings_to_wkb([], [])), ]
        wdf = spark.createDataFrame(rows, "poly_id string, wkb binary")
        wire = {
            r["poly_id"]: bytes(r["wkb"])
            for r in polys_df_from_wkb_column(wdf).collect()
        }
        got = {pid: wkb_to_rings(b) for pid, b in wire.items()}
        want = {p["poly_id"]: p["rings"] for p in polys_from_wkb(rows)}
        assert got == want
        assert "empty" not in got
        # the output is the native wire: the VALIDATED ORIGINAL bytes
        # pass through verbatim (empty geometries dropped)
        assert wire == {pid: bytes(b) for pid, b in rows if pid != "empty"}

    def test_distributed_decode_feeds_pip_join_table(self, spark):
        """Binary column → distributed decode → cover-as-table PIP
        equals the broadcast pip_join on the original dict spec — the
        composition a 10^6-parcel GeoParquet user runs, results
        identical to the driver regime by construction."""
        from htrc_ingester_spark.geo.wkb import polys_df_from_wkb_column
        from htrc_ingester_spark.operators.pip_join import pip_join, pip_join_table

        pdf = data.images_meta_pdf(300)
        pts = spark.createDataFrame(pdf[["image_id", "lon", "lat"]])
        wdf = spark.createDataFrame(
            data.polygons_holes_wkb(), "poly_id string, wkb binary"
        )
        a = (
            pip_join(spark, pts, data.polygons_holes(), res=7)
            .select("image_id", "poly_id").toPandas()
            .sort_values(["image_id", "poly_id"]).reset_index(drop=True)
        )
        b = (
            pip_join_table(spark, pts, polys_df_from_wkb_column(wdf), res=7)
            .select("image_id", "poly_id").toPandas()
            .sort_values(["image_id", "poly_id"]).reset_index(drop=True)
        )
        assert a.equals(b)

    def test_raw_wkb_frame_is_native_and_identical(self, spark):
        """A raw (poly_id, wkb) frame goes STRAIGHT into pip_join_table
        — WKB is the regime's native wire — with results identical to
        the broadcast regime, and the executed plan never materializes
        a nested rings column (the binary cell is decoded inside the
        executor kernels)."""
        from htrc_ingester_spark.operators.pip_join import pip_join, pip_join_table

        pdf = data.images_meta_pdf(300)
        pts = spark.createDataFrame(pdf[["image_id", "lon", "lat"]])
        wdf = spark.createDataFrame(
            data.polygons_holes_wkb(), "poly_id string, wkb binary"
        )
        native = pip_join_table(spark, pts, wdf, res=7)
        plan = native._jdf.queryExecution().executedPlan().toString()
        assert "rings#" not in plan  # nested arrays never enter the plan
        a = (
            pip_join(spark, pts, data.polygons_holes(), res=7)
            .select("image_id", "poly_id").toPandas()
            .sort_values(["image_id", "poly_id"]).reset_index(drop=True)
        )
        b = (
            native.select("image_id", "poly_id").toPandas()
            .sort_values(["image_id", "poly_id"]).reset_index(drop=True)
        )
        assert a.equals(b)

    def test_malformed_blob_fails_native_path_with_poly_id(self, spark):
        """Corruption must surface from the native path too, naming
        the offending row (the decode now happens inside the cover
        kernel, not a separate decode stage)."""
        from htrc_ingester_spark.operators.pip_join import pip_join_table

        pdf = data.images_meta_pdf(50)
        pts = spark.createDataFrame(pdf[["image_id", "lon", "lat"]])
        rows = [("good", data.polygons_holes_wkb()[0][1]), ("badrow", b"\x01\x03junk")]
        wdf = spark.createDataFrame(rows, "poly_id string, wkb binary")
        with pytest.raises(Exception, match="badrow"):
            pip_join_table(spark, pts, wdf, res=7).collect()

    def test_malformed_blob_fails_task_with_poly_id(self, spark):
        """Interchange corruption must surface (the reference's
        checksum-validate discipline), and name the offending row."""
        import pyspark.sql.utils  # noqa: F401  (py4j error wrapping)

        from htrc_ingester_spark.geo.wkb import polys_df_from_wkb_column

        rows = [("good", data.polygons_holes_wkb()[0][1]), ("bad", b"\x01\x03junk")]
        wdf = spark.createDataFrame(rows, "poly_id string, wkb binary")
        with pytest.raises(Exception, match="bad"):
            polys_df_from_wkb_column(wdf).collect()
