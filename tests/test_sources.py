"""METS XML parse + pairtree binaryFile source tests (S5/F7/J1, S2/S6).

The round-trip discipline: synthesize a METS document from known
tuples, parse it back, assert tuple equality (TestMETSParser.java's
strategy with a synthesized fixture instead of a shipped one)."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from htrc_ingester_spark.sources import filesystem as FS
from htrc_ingester_spark.sources import mets as M
from htrc_ingester_spark.sources import zipsource as Z


@pytest.fixture(scope="module")
def mets_df(spark):
    rows = [
        ("uc2.ark:/13960/ta", M.synthesize_mets("uc2.ark:/13960/ta", 5)),
        ("uc2.ark:/13960/tb", M.synthesize_mets("uc2.ark:/13960/tb", 3, drop_fptr_for={2})),
        ("uc2.ark:/13960/tc", M.synthesize_mets("uc2.ark:/13960/tc", 4, dup_file_at=3)),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["volume_id", "mets_xml"]))


class TestMETSParse:
    def test_round_trip_pages(self, mets_df):
        parsed = M.parse_mets(mets_df)
        pages, orphans = M.pages_table(parsed)
        pa = pages.where("volume_id = 'uc2.ark:/13960/ta'").orderBy("order").toPandas()
        assert list(pa["order"]) == [1, 2, 3, 4, 5]
        assert list(pa.sequence) == [f"{i:08d}" for i in range(1, 6)]
        # full pairtree cleaning (':'→'+' '/'→'=' '.'→','): fixture
        # member names now follow the same spec as the directory names
        assert pa.filename.iloc[0] == "uc2,ark+=13960=ta_00000001.txt"
        assert pa.order_label.iloc[0] == "p1"
        import hashlib

        assert pa.checksum.iloc[2] == hashlib.md5(b"uc2.ark:/13960/ta:3").hexdigest()

    def test_only_ocr_group_and_physical_map(self, mets_df):
        parsed = M.parse_mets(mets_df).toPandas()
        # the zip-archive fileGrp and logical structMap must not leak
        assert not (parsed.file_id == "ZIP1").any()
        assert not (parsed["order"] == 999).any()

    def test_missing_fptr_drops_page_inner_join(self, mets_df):
        pages, _ = M.pages_table(M.parse_mets(mets_df))
        pb = pages.where("volume_id = 'uc2.ark:/13960/tb'").toPandas()
        assert sorted(pb["order"]) == [1, 3]  # page 2 had no fptr

    def test_duplicate_file_id_kept_once_and_surfaced(self, mets_df):
        parsed = M.parse_mets(mets_df)
        dups = parsed.where("kind = 'dup_file'").toPandas()
        assert list(dups.volume_id) == ["uc2.ark:/13960/tc"]
        pages, _ = M.pages_table(parsed)
        pc = pages.where("volume_id = 'uc2.ark:/13960/tc'").toPandas()
        assert sorted(pc["order"]) == [1, 2, 3, 4]  # no double page 3

    def test_malformed_xml_to_error_channel(self, spark):
        bad = spark.createDataFrame(
            pd.DataFrame({"volume_id": ["x"], "mets_xml": ["<METS:mets>"]})
        )
        parsed = M.parse_mets(bad).toPandas()
        assert list(parsed.kind) == ["error"]

    def test_page_count_rule(self, mets_df):
        pages, _ = M.pages_table(M.parse_mets(mets_df))
        pc = M.page_count(pages).toPandas().set_index("volume_id").page_count.to_dict()
        assert pc["uc2.ark:/13960/ta"] == 5
        assert pc["uc2.ark:/13960/tb"] == 2


class TestPairtree:
    def test_write_then_binaryfile_read_round_trip(self, spark, tmp_path):
        ids = ["uc2.ark:/13960/ta", "uc2.ark:/13960/tb", "ab.id/x"]
        rows = [(i, f"payload-{i}".encode()) for i in ids]
        df = spark.createDataFrame(rows, "volume_id string, content binary")
        n = FS.write_pairtree(df, str(tmp_path))
        assert n == 3
        req = spark.createDataFrame(
            [(i,) for i in ids] + [("missing.id",)], "volume_id string"
        )
        found, missing = FS.read_pairtree(spark, str(tmp_path), req)
        got = found.toPandas().sort_values("volume_id")
        assert list(got.volume_id) == sorted(ids)
        assert bytes(got.content.iloc[0]) == f"payload-{sorted(ids)[0]}".encode()
        assert [r.volume_id for r in missing.collect()] == ["missing.id"]

        # point read (default) and full scan (point_read_max=0) agree on
        # a duplicated non-string id: the caller's id type and row
        # multiplicity survive both paths
        FS.write_pairtree(
            spark.createDataFrame([("4417", b"n")], "volume_id string, content binary"),
            str(tmp_path),
        )
        req = spark.createDataFrame([(4417,), (4417,), (9,)], "volume_id bigint")
        results = []
        for limit in (10_000, 0):
            found, missing = FS.read_pairtree(spark, str(tmp_path), req, point_read_max=limit)
            assert dict(found.dtypes)["volume_id"] == "bigint"
            assert [r.volume_id for r in missing.collect()] == [9]
            results.append(
                sorted((r.volume_id, r.length, bytes(r.content)) for r in found.collect())
            )
        assert results[0] == results[1] == [(4417, 1, b"n"), (4417, 1, b"n")]

    def test_segment_path_shape(self, spark, tmp_path):
        df = spark.createDataFrame([("uc2.ark:/13960/ta", b"x")], "volume_id string, content binary")
        FS.write_pairtree(df, str(tmp_path))
        import glob

        paths = glob.glob(f"{tmp_path}/**/*.zip", recursive=True)
        assert len(paths) == 1
        rel = paths[0][len(str(tmp_path)) + 1 :]
        # cleaned id 'uc2,ark+=13960=ta' → 2-char segments
        assert rel == "uc/2,/ar/k+/=1/39/60/=t/a/uc2,ark+=13960=ta.zip"


METS_FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "compact.mets.xml")
N_PAGES = 12
BLANK_PAGES = {4, 9, 12}


def _page_body(i: int) -> bytes:
    """The OCR text the fixture's SIZE/CHECKSUM attributes describe."""
    return b"" if i in BLANK_PAGES else f"Page {i} of the compact METS fixture.\n".encode()


class TestRealMETSFixture:
    """A compact hand-written METS document with the real HathiTrust
    shape (tests/fixtures/compact.mets.xml): an XML encoding
    declaration, 3 fptrs per page div (image, ocr, coordOCR — only one
    OCR), pages nested inside ORDER-bearing section divs, blank 0-byte
    pages, and MD5 plus SHA-1 checksums in lower- and uppercase hex.
    The parity case TestMETSParser.java:55-122 exercises: lookups by
    filename and by ID agree, pageCount is consistent."""

    @pytest.fixture(scope="class")
    def pages(self, spark):
        import pandas as pd

        with open(METS_FIXTURE) as f:
            xml = f.read()
        assert xml.startswith('<?xml version="1.0" encoding="UTF-8"?>')
        df = spark.createDataFrame(
            pd.DataFrame({"volume_id": ["fixture.0001"], "mets_xml": [xml]})
        )
        parsed = M.parse_mets(df)
        return M.pages_table(parsed) + (parsed,)

    def test_all_ocr_pages_assembled(self, pages):
        pg, orphans, parsed = pages
        got = pg.toPandas()
        assert len(got) == N_PAGES
        # distinct by filename AND by id (the reference's two indices)
        assert got.filename.nunique() == N_PAGES
        assert got.file_id.nunique() == N_PAGES
        assert M.page_count(pg).collect()[0].page_count == N_PAGES

    def test_orders_are_dense_innermost_div(self, pages):
        pg, _, _ = pages
        got = pg.toPandas()
        # the section divs carry ORDER 1 and 2 too: every fptr must
        # take its innermost (page) div's order, once
        assert sorted(got["order"]) == list(range(1, N_PAGES + 1))
        assert set(got.sequence) == {f"{i:08d}" for i in range(1, N_PAGES + 1)}

    def test_non_ocr_fptrs_are_orphans_not_pages(self, pages):
        _, orphans, parsed = pages
        # 3 fptrs per page, 1 points at an ocr file → 2 orphans per page
        assert orphans.count() == 2 * N_PAGES
        p = parsed.toPandas()
        assert (p.kind == "error").sum() == 0
        assert (p.kind == "dup_file").sum() == 0

    def test_checksums_match_declared_type(self, pages):
        import hashlib

        pg, _, _ = pages
        got = pg.toPandas().sort_values("order")
        assert got.checksum_type.value_counts().to_dict() == {"MD5": 8, "SHA-1": 4}
        assert got.checksum.str.fullmatch("[0-9a-f]+").sum() == 9
        assert got.checksum.str.fullmatch("[0-9A-F]+").sum() == 3
        for r in got.itertuples():
            body = _page_body(r.order)
            algo = hashlib.md5 if r.checksum_type == "MD5" else hashlib.sha1
            assert r.checksum.lower() == algo(body).hexdigest(), r.order
            assert r.size == len(body), r.order
        # blank scans: size 0 is valid data, not a parse failure
        assert set(got.loc[got["size"] == 0, "order"]) == BLANK_PAGES


class TestSourcesEdgeContracts:
    """r5 review regressions for the ingest sources."""

    def test_parse_mets_encoding_decl_and_null_are_error_rows(self, spark):
        """Real METS opens with an XML encoding declaration — ET raises
        ValueError for that (not ParseError), and NULL cells raise
        TypeError; both must become error rows, not job aborts."""
        decl = '<?xml version="1.0" encoding="UTF-8"?><bad>'
        df = spark.createDataFrame(
            [("v1", decl), ("v2", None), ("v3", M.synthesize_mets("v3", 2))],
            "volume_id string, mets_xml string",
        )
        out = M.parse_mets(df).toPandas()
        errs = out[out.kind == "error"]
        assert set(errs.volume_id) == {"v1", "v2"}
        assert (out[out.volume_id == "v3"].kind != "error").all()

    def test_validate_accepts_hyphenated_sha1_and_uppercase_hex(self, spark):
        import hashlib

        data = b"page body"
        joined = spark.createDataFrame(
            [
                ("v", "p1.txt", len(data), hashlib.sha1(data).hexdigest(),
                 hashlib.md5(data).hexdigest(), len(data),
                 hashlib.sha1(data).hexdigest().upper(), "SHA-1"),
            ],
            "volume_id string, filename string, byte_count long, sha1 string,"
            " md5 string, size long, checksum string, checksum_type string",
        )
        ok, bad = Z.validate_pages(joined)
        assert ok.count() == 1 and bad.count() == 0

    def test_empty_zip_surfaces_as_error_row(self, spark):
        import io
        import zipfile

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w"):
            pass  # zero members
        df = spark.createDataFrame(
            [("vempty", buf.getvalue())], "volume_id string, content binary"
        )
        out = Z.explode_zip_pages(df).toPandas()
        assert len(out) == 1
        assert out.error.iloc[0] is not None and "no page members" in out.error.iloc[0]

    def test_nested_order_divs_attribute_fptr_once(self, spark):
        """An fptr under a nested ORDER-bearing div belongs to its
        INNERMOST div only (the reference's StAX association) — the
        old div.iter() emitted one row per ORDER-bearing ancestor."""
        xml = (
            '<METS:mets xmlns:METS="http://www.loc.gov/METS/"'
            ' xmlns:xlink="http://www.w3.org/1999/xlink">'
            '<METS:fileSec><METS:fileGrp USE="ocr">'
            '<METS:file SIZE="10" ID="XML1" CHECKSUM="x" CHECKSUMTYPE="MD5">'
            '<METS:FLocat LOCTYPE="OTHER" xlink:href="p1.txt"/></METS:file>'
            "</METS:fileGrp></METS:fileSec>"
            '<METS:structMap TYPE="physical">'
            '<METS:div ORDER="9" TYPE="section">'
            '<METS:div ORDER="1" TYPE="page"><METS:fptr FILEID="XML1"/></METS:div>'
            "</METS:div></METS:structMap></METS:mets>"
        )
        out = M.parse_mets(
            spark.createDataFrame([("v", xml)], "volume_id string, mets_xml string")
        ).toPandas()
        divs = out[out.kind == "div"]
        assert len(divs) == 1
        assert divs.order.iloc[0] == 1  # the innermost (page) div wins

    def test_page_text_contract_holds_for_large_page_numbers(self):
        vid = "v"
        for i in (1, 50, 600, 2000):
            assert len(Z.page_text(vid, i)) == 1000 + i
