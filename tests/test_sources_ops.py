"""Tests for archive expansion, file extraction, tabular scanning,
classifiers, and deleted-object GC (SURVEY.md S11/S12/P11/F3/F4/F7)."""

from __future__ import annotations

import io
import tarfile
import zipfile

import pytest

from tests.oracle import oracle_mask


def _zip_bytes(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in members.items():
            z.writestr(name, data)
    return buf.getvalue()


def _tgz_bytes(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as t:
        for name, data in members.items():
            info = tarfile.TarInfo(name)
            info.size = len(data)
            t.addfile(info, io.BytesIO(data))
    return buf.getvalue()


class TestArchives:
    def test_zip_and_tar_explode(self, spark):
        from pii_detector_spark.sources.archives import explode_archives

        nested = _zip_bytes({"inner.txt": b"nested content"})
        rows = [
            ("s3://b/a.zip", _zip_bytes({"x.txt": b"hello", "sub/y.txt": b"world", "n.zip": nested})),
            ("s3://b/c.tar.gz", _tgz_bytes({"t.txt": b"tar member"})),
            ("s3://b/plain.txt", b"not an archive"),
        ]
        df = spark.createDataFrame(rows, "url string, payload binary")
        out = explode_archives(df).collect()
        got = {(r.archive_url, r.member_path): bytes(r.payload) for r in out}
        assert got[("s3://b/a.zip", "x.txt")] == b"hello"
        assert got[("s3://b/a.zip", "sub/y.txt")] == b"world"
        # nested archive expanded one level deeper
        assert got[("s3://b/a.zip/n.zip", "inner.txt")] == b"nested content"
        assert got[("s3://b/c.tar.gz", "t.txt")] == b"tar member"
        assert len(got) == 4  # plain.txt ignored

    def test_zip_bomb_guard(self, spark):
        from pii_detector_spark.sources.archives import explode_archives

        bomb = _zip_bytes({"zeros.bin": b"\x00" * 2_000_000})  # ratio >> 100
        df = spark.createDataFrame(
            [("s3://b/bomb.zip", bomb)], "url string, payload binary"
        )
        assert explode_archives(df).count() == 0


class TestFileExtraction:
    def test_csv_sniff(self):
        from pii_detector_spark.sources.files import extract_file_text

        data = "a;b;c\n1;2;3\n".encode()
        assert extract_file_text("t.csv", data) == "a b c\n1 2 3"

    def test_plain_fallback_and_replace(self):
        from pii_detector_spark.sources.files import extract_file_text

        assert extract_file_text("x.log", b"plain \xff text") == "plain � text"

    def test_invalid_ole2_raises(self):
        from pii_detector_spark.sources.files import extract_file_text
        from pii_detector_spark.sources.ole2 import Ole2Error

        with pytest.raises(Ole2Error):
            extract_file_text("doc.doc", b"not an ole2 container")

    def test_binary_file_ingestion(self, spark, tmp_path):
        from pii_detector_spark.sources.files import read_binary_files, with_file_text

        (tmp_path / "a.csv").write_text("x,y\n1,2\n")
        (tmp_path / "b.txt").write_text("ssn 123-45-6789 here")
        df = with_file_text(read_binary_files(spark, str(tmp_path)))
        got = {r.url.split("/")[-1]: r.text for r in df.collect()}
        assert got["a.csv"] == "x y\n1 2"
        assert got["b.txt"] == "ssn 123-45-6789 here"


class TestOfficeExtraction:
    """DOCX/XLSX are zipped XML — stdlib extraction, reference semantics
    (file_service.py:369-375,392-396). Fixtures built in-test with zipfile."""

    W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    S = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"

    def _docx(self) -> bytes:
        import io
        import zipfile

        doc = f"""<?xml version="1.0"?>
<w:document xmlns:w="{self.W}"><w:body>
<w:p><w:r><w:t>contact </w:t></w:r><w:r><w:t>jane@mailhost.example.com</w:t></w:r></w:p>
<w:p><w:r><w:t></w:t></w:r></w:p>
<w:p><w:r><w:t>second paragraph</w:t></w:r></w:p>
</w:body></w:document>"""
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("[Content_Types].xml", "<Types/>")
            z.writestr("word/document.xml", doc)
        return buf.getvalue()

    def _xlsx(self) -> bytes:
        import io
        import zipfile

        shared = f"""<?xml version="1.0"?>
<sst xmlns="{self.S}"><si><t>ssn</t></si><si><t>172-32-1176</t></si></sst>"""
        sheet = f"""<?xml version="1.0"?>
<worksheet xmlns="{self.S}"><sheetData>
<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
<row r="2"><c r="A2"><v>42</v></c><c r="B2" t="inlineStr"><is><t>inline text</t></is></c></row>
</sheetData></worksheet>"""
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("[Content_Types].xml", "<Types/>")
            z.writestr("xl/sharedStrings.xml", shared)
            z.writestr("xl/worksheets/sheet1.xml", sheet)
        return buf.getvalue()

    def test_docx_paragraph_semantics(self):
        from pii_detector_spark.sources.files import extract_file_text

        text = extract_file_text("report.docx", self._docx())
        # runs concatenated per paragraph; empty paragraph dropped;
        # paragraphs joined with newlines
        assert text == (
            "contact jane@mailhost.example.com\nsecond paragraph"
        )

    def test_xlsx_cells_and_shared_strings(self):
        from pii_detector_spark.sources.files import extract_file_text

        text = extract_file_text("book.xlsx", self._xlsx())
        assert text == "ssn 172-32-1176\n42 inline text"

    def test_office_files_feed_the_battery(self, spark, tmp_path):
        from pii_detector_spark.operators.scrub import with_scrub
        from pii_detector_spark.sources.files import (
            read_binary_files,
            with_file_text,
        )

        (tmp_path / "r.docx").write_bytes(self._docx())
        (tmp_path / "b.xlsx").write_bytes(self._xlsx())
        df = with_file_text(read_binary_files(spark, str(tmp_path)))
        out = with_scrub(df)
        found = {
            (r.url.rsplit("/", 1)[-1], f.pii_type)
            for r in out.collect()
            for f in (r.findings or [])
        }
        assert ("r.docx", "EMAIL_ADDRESS") in found
        assert ("b.xlsx", "US_SSN") in found

    def test_xlsx_numeric_sheet_order(self):
        """sheet2 concatenates before sheet10 (numeric workbook order, not
        lexicographic archive order)."""
        import io
        import zipfile

        from pii_detector_spark.sources.files import extract_file_text

        def _sheet(val: str) -> str:
            return (
                f'<?xml version="1.0"?><worksheet xmlns="{self.S}">'
                f'<sheetData><row r="1"><c r="A1" t="inlineStr">'
                f"<is><t>{val}</t></is></c></row></sheetData></worksheet>"
            )

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("[Content_Types].xml", "<Types/>")
            # archive order deliberately scrambled
            for i in (10, 1, 2):
                z.writestr(f"xl/worksheets/sheet{i}.xml", _sheet(f"s{i}"))
        text = extract_file_text("book.xlsx", buf.getvalue())
        assert text == "s1\ns2\ns10"

    def test_legacy_doc_xls_roundtrip(self):
        """Every extension in the reference dispatch now extracts — the
        last S12 seam (antiword/xlrd) closed with stdlib CFB+BIFF8+Word97
        parsing (sources/ole2.py, sources/legacy_office.py)."""
        from pii_detector_spark.sources.files import extract_file_text
        from pii_detector_spark.sources.legacy_office import (
            build_doc,
            build_xls,
        )

        xls = build_xls([[["acct", 12345], ["x", "y z"]], [["s2", 2.5]]])
        assert extract_file_text("b.xls", xls) == "acct 12345\nx y z\ns2 2.5"
        doc = build_doc("memo one\nwith ünïcode and кириллица", pieces=2)
        assert (
            extract_file_text("r.doc", doc)
            == "memo one\nwith ünïcode and кириллица"
        )

    def test_legacy_files_feed_the_battery(self, spark, tmp_path):
        from pii_detector_spark.operators.scrub import with_scrub
        from pii_detector_spark.sources.files import (
            read_binary_files,
            with_file_text,
        )
        from pii_detector_spark.sources.legacy_office import (
            build_doc,
            build_xls,
        )

        (tmp_path / "r.doc").write_bytes(build_doc("ssn 172-32-1176 in doc"))
        (tmp_path / "b.xls").write_bytes(
            build_xls([[["email", "jane@mailhost.example.com"]]])
        )
        df = with_file_text(read_binary_files(spark, str(tmp_path)))
        found = {
            (r.url.rsplit("/", 1)[-1], f.pii_type)
            for r in with_scrub(df).collect()
            for f in (r.findings or [])
        }
        assert ("r.doc", "US_SSN") in found
        assert ("b.xls", "EMAIL_ADDRESS") in found


class TestPdfExtraction:
    """Stdlib PDF text extraction (sources/pdf.py): the PyPDF2 page-text
    loop of the reference (file_service.py:358-366) reimplemented from the
    public PDF spec, pinned by exact round-trip goldens."""

    def test_roundtrip_pages_compressed_and_raw(self):
        from pii_detector_spark.sources.pdf import (
            build_simple_pdf,
            extract_pdf_text,
        )

        pages = [
            "Invoice 42\ncontact jane@mailhost.example.com",
            "(parens) and back\\slash and héllo",
            "third page",
        ]
        for compress in (True, False):
            pdf = build_simple_pdf(pages, compress=compress)
            assert extract_pdf_text(pdf) == "\n".join(pages)

    def test_page_tree_order_not_object_order(self):
        """Pages come back in /Kids order even when the writer emitted the
        page objects in a different byte order."""
        from pii_detector_spark.sources.pdf import (
            build_simple_pdf,
            extract_pdf_text,
        )

        pdf = build_simple_pdf(["first", "second"])
        # swap the two page objects' byte positions; the page TREE (/Kids)
        # still says first-then-second
        a, b = b"4 0 obj", b"6 0 obj"
        ia, ib = pdf.index(a), pdf.index(b)
        end_a = pdf.index(b"endobj", ia) + 7
        end_b = pdf.index(b"endobj", ib) + 7
        swapped = (
            pdf[:ia] + pdf[ib:end_b] + pdf[end_a:ib] + pdf[ia:end_a] + pdf[end_b:]
        )
        assert extract_pdf_text(swapped) == "first\nsecond"

    def test_unsupported_pdfs_raise(self):
        import pytest as _pytest

        from pii_detector_spark.sources.pdf import (
            PdfParseError,
            build_simple_pdf,
            extract_pdf_text,
        )

        with _pytest.raises(PdfParseError):
            extract_pdf_text(b"not a pdf at all")
        enc = build_simple_pdf(["x"]).replace(
            b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R"
        )
        with _pytest.raises(PdfParseError):
            extract_pdf_text(enc)

    def test_pdf_feeds_the_battery(self, spark, tmp_path):
        from pii_detector_spark.operators.scrub import with_scrub
        from pii_detector_spark.sources.files import (
            read_binary_files,
            with_file_text,
        )
        from pii_detector_spark.sources.pdf import build_simple_pdf

        (tmp_path / "r.pdf").write_bytes(
            build_simple_pdf(["ssn 172-32-1176 inside a pdf"])
        )
        df = with_file_text(read_binary_files(spark, str(tmp_path)))
        out = with_scrub(df)
        found = {
            f.pii_type for r in out.collect() for f in (r.findings or [])
        }
        assert "US_SSN" in found


class TestTabularScan:
    def test_column_attribution(self, spark):
        from pii_detector_spark.operators.tabular import scan_table

        rows = [
            (1, "john@mailhost.example.com", "123-45-6789", "clean"),
            (2, "no pii here", "also clean", "nothing"),
        ]
        df = spark.createDataFrame(rows, "pk long, email string, ssn string, notes string")
        out = scan_table(df, "pk").collect()
        by_col = {(r.row_key, r.column_name, r.pii_type): r for r in out}
        email = by_col[(1, "email", "EMAIL_ADDRESS")]
        assert email.pii_masked == oracle_mask(
            "EMAIL_ADDRESS", "john@mailhost.example.com"
        )
        assert (1, "ssn", "US_SSN") in by_col
        # clean row produces no findings
        assert not any(r.row_key == 2 for r in out)

    def test_row_key_with_delimiter_chars(self, spark):
        """A row key containing '#' (or any delimiter) must not be truncated
        or mis-attributed: attribution rides as real columns, not an encoded
        string."""
        from pii_detector_spark.operators.tabular import scan_table

        rows = [
            ("k#1#x", "john@mailhost.example.com", "clean"),
            ("plain", "no pii", "123-45-6789"),
        ]
        df = spark.createDataFrame(rows, "pk string, email string, notes string")
        out = scan_table(df, "pk").collect()
        got = {(r.row_key, r.column_name, r.pii_type) for r in out}
        assert ("k#1#x", "email", "EMAIL_ADDRESS") in got
        assert ("plain", "notes", "US_SSN") in got
        assert all(r.row_key in ("k#1#x", "plain") for r in out)

    def test_melt_hostile_column_names(self, spark):
        """Column names with quotes/backticks must melt cleanly (no SQL
        string interpolation to break)."""
        from pii_detector_spark.operators.tabular import melt_columns

        df = spark.createDataFrame([(1, "a", "b")], ["pk", "we`ird", "qu'ote"])
        got = {r.column_name: r.value for r in melt_columns(df, "pk").collect()}
        assert got == {"we`ird": "a", "qu'ote": "b"}

    def test_id_columns_dropped(self, spark):
        from pii_detector_spark.operators.tabular import melt_columns

        df = spark.createDataFrame(
            [(1, 7, "x")], "pk long, id long, val string"
        )
        cols = {r.column_name for r in melt_columns(df, "pk").collect()}
        assert cols == {"val"}


class TestClassifiers:
    def test_filename_include_exclude(self, spark):
        from pii_detector_spark.operators.classifiers import (
            FilenameClassifier,
            apply_filename_classifiers,
        )

        df = spark.createDataFrame(
            [("https://h/secret/a.txt",), ("https://h/pub/b.txt",),
             ("https://h/pub/c.md",)],
            "url string",
        )
        out = apply_filename_classifiers(
            df,
            (
                FilenameClassifier(exclude=(r"/secret/",)),
                FilenameClassifier(include=(r"\.txt$",), labels=("text",)),
                FilenameClassifier(include=(r"/pub/",), labels=("public",)),
            ),
        ).collect()
        got = {r.url: sorted(r.labels) for r in out}
        assert "https://h/secret/a.txt" not in got  # exclude wins
        assert got["https://h/pub/b.txt"] == ["public", "text"]
        assert got["https://h/pub/c.md"] == ["public"]

    def test_custom_classifier_battery(self, spark):
        from pii_detector_spark.operators.classifiers import (
            CustomClassifier,
            with_custom_scrub,
        )

        df = spark.createDataFrame(
            [("u1", "ref TICKET-42 and john@mailhost.example.com")],
            "url string, text string",
        )
        out = with_custom_scrub(
            df, (CustomClassifier(name="TICKET_ID", patterns=(r"TICKET-[0-9]+",)),)
        ).collect()[0]
        types = {f.pii_type: f for f in out.findings}
        assert types["TICKET_ID"].is_custom_regex is True
        assert types["TICKET_ID"].pii_data == "******-**"
        assert types["EMAIL_ADDRESS"].is_custom_regex is False
        assert "******-**" in out.scrubbed_text

class TestDeletedGC:
    def test_deleted_urls(self, spark):
        from pii_detector_spark.plans.checkpoint import deleted_urls

        lineage = spark.createDataFrame(
            [("a", "SCANNED"), ("b", "SCANNED"), ("c", "SCANNED")],
            "url string, status string",
        )
        current = spark.createDataFrame([("a",), ("c",)], "url string")
        got = sorted(r.url for r in deleted_urls(lineage, current).collect())
        assert got == ["b"]


class TestReferenceGoldenShape:
    """Mirrors the reference's golden CSV structure
    (tests/test_data/pii_file_samples/pii_sample_data.csv header:
    SSN,gender,birthdate,...,phone,email,cc_type,CCN,...) with synthetic
    values — the same per-column detection expectations, none of the data."""

    def test_pii_sample_shape(self, spark):
        from pii_detector_spark.operators.tabular import scan_table

        rows = [
            (1, "172-32-1176", "m", "johnson", "david",
             "west oak drive", "4929-3813-3266-4295", "david@exmaplemail.com"),
            (2, "514-14-8905", "f", "miller", "anna",
             "main street five", "5370-4638-8881-3020", "anna.m@hostmail.example.org"),
        ]
        df = spark.createDataFrame(
            rows,
            "pk long, ssn string, gender string, last_name string, "
            "first_name string, address string, ccn string, email string",
        )
        found = scan_table(df, "pk").collect()
        types_by_col = {}
        for r in found:
            types_by_col.setdefault(r.column_name, set()).add(r.pii_type)
        assert "US_SSN" in types_by_col["ssn"]
        assert "CREDIT_CARD" in types_by_col["ccn"]
        assert "EMAIL_ADDRESS" in types_by_col["email"]
        # single-word name/gender columns must stay clean
        for col in ("gender", "last_name", "first_name", "address"):
            assert col not in types_by_col, types_by_col.get(col)


def test_pdf_roundtrip_property():
    """Property: extract(build(pages)) == '\\n'.join(pages) for arbitrary
    latin-1 printable page texts (escapes, parens, multi-page, blank
    lines)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pii_detector_spark.sources.pdf import (
        build_simple_pdf,
        extract_pdf_text,
    )

    # latin-1 printable minus \r (the writer emits \n line structure only;
    # a \r inside a line would be a new line marker in PDF string syntax)
    alphabet = st.characters(
        min_codepoint=0x20, max_codepoint=0xFF, exclude_characters="\x7f\x85"
    )
    line = st.text(alphabet=alphabet, max_size=60)
    page = st.lists(line, min_size=1, max_size=5).map("\n".join)

    @settings(max_examples=60, deadline=None)
    @given(pages=st.lists(page, min_size=1, max_size=4), compress=st.booleans())
    def check(pages, compress):
        pdf = build_simple_pdf(pages, compress=compress)
        assert extract_pdf_text(pdf) == "\n".join(pages)

    check()


def test_extract_file_text_per_file_degradation(caplog):
    """One undecodable binary degrades to '' (reference prepare_file's broad
    try/except → None per file), never propagates out of the batch UDF."""
    import logging as _logging

    from pii_detector_spark.sources.files import (
        _extract_batch,
        extract_file_text_or_empty,
    )

    bad_pdf = b"%PDF-1.4\nnot really a pdf"
    with caplog.at_level(_logging.WARNING):
        assert extract_file_text_or_empty("x.pdf", bad_pdf) == ""
        assert extract_file_text_or_empty("x.doc", b"\x00\x01garbage") == ""
        assert extract_file_text_or_empty("x.xls", b"junk") == ""
    assert any("emitting empty text" in r.message for r in caplog.records)

    import pandas as pd

    out = _extract_batch(
        pd.Series(["a.pdf", "b.txt"]), pd.Series([bad_pdf, b"plain ok"])
    )
    assert list(out) == ["", "plain ok"]


def test_pdf_payload_containing_structural_keywords():
    """Compressed payloads containing 'endobj'/'\\nendstream'/trailing \\r
    bytes must slice via /Length, not the keyword scan."""
    import zlib

    from pii_detector_spark.sources.pdf import (
        build_simple_pdf,
        extract_pdf_text,
    )

    # brute-force a page text whose deflate stream contains a structural
    # keyword — deterministic search, no randomness
    found = None
    for i in range(20000):
        t = f"page {i} body"
        if b"endobj" in zlib.compress(t.encode("latin-1"), 9) or (
            b"\nendstream" in zlib.compress(t.encode("latin-1"), 9)
        ):
            found = t
            break
    # even if no collision found, the CR-trailing payload cases below still
    # pin the /Length path
    pages = [found] if found else ["3X\xcc"]
    assert extract_pdf_text(build_simple_pdf(pages)) == "\n".join(pages)
    # payload whose deflate output ends with 0x0D (the r3 failure class)
    assert extract_pdf_text(build_simple_pdf(["3X\xcc"])) == "3X\xcc"


def test_connected_components_unconverged_raises(spark):
    """A chain longer than max_iter rounds must raise, not silently split."""
    import pytest as _pytest

    from pii_detector_spark.operators.clusters import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2)
    # and with enough rounds the same chain converges to one component
    comp = connected_components(pairs, max_iter=20).toPandas()
    assert set(comp["comp"]) == {0}


def test_ole2_difat_size_cliff():
    """build_cfb must refuse >109 FAT sectors loudly (no DIFAT chaining)."""
    import pytest as _pytest

    from pii_detector_spark.sources.ole2 import Ole2Error, build_cfb

    with _pytest.raises(Ole2Error, match="DIFAT"):
        build_cfb({"Big": b"\xab" * (8 * 1024 * 1024)})


def test_png_roundtrip_property():
    """Property: decode(build(pixels)) == pixels for arbitrary small
    images across all 5 scanline filters and 1/2/3/4 channels."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pii_detector_spark.sources.png import build_png, decode_png

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 10),
        h=st.integers(1, 10),
        ch=st.integers(1, 4),
        seed=st.integers(0, 2**31 - 1),
        fm=st.sampled_from(["cycle", 0, 1, 2, 3, 4]),
    )
    def check(w, h, ch, seed, fm):
        arr = np.random.default_rng(seed).integers(
            0, 256, size=(h, w, ch), dtype=np.uint8
        )
        width, height, channels, px = decode_png(build_png(arr, fm))
        assert (width, height, channels) == (w, h, ch)
        assert np.array_equal(px, arr)

    check()


def test_png_error_paths():
    import struct
    import zlib as _zlib

    import numpy as np
    import pytest as _pytest

    from pii_detector_spark.sources.png import (
        PngParseError,
        build_png,
        decode_png,
    )

    with _pytest.raises(PngParseError, match="signature"):
        decode_png(b"GIF89a not a png")
    good = bytearray(build_png(np.full((4, 4), 9, np.uint8)))
    bad = bytearray(good)
    bad[20] ^= 0x55
    with _pytest.raises(PngParseError, match="CRC"):
        decode_png(bytes(bad))
    # interlace flag set (CRC re-fixed so the parser reaches the check)
    interlaced = bytearray(good)
    interlaced[28] = 1  # IHDR body byte 12 = interlace method
    struct.pack_into(
        ">I",
        interlaced,
        29,
        _zlib.crc32(b"IHDR" + bytes(interlaced[16:29])) & 0xFFFFFFFF,
    )
    with _pytest.raises(PngParseError, match="interlace"):
        decode_png(bytes(interlaced))


def test_png_through_spark_seam(spark):
    """decode_stub=False: PNG payloads get real width/height/channel-mean
    features; junk payloads degrade to null features (not a task abort)."""
    import numpy as np

    from pii_detector_spark.operators.multimodal import (
        extract_media_features,
    )
    from pii_detector_spark.sources.png import build_png

    arr = np.zeros((3, 5, 3), np.uint8)
    arr[..., 0] = 10
    arr[..., 1] = 20
    arr[..., 2] = 255
    rows = [
        (1, "image", bytearray(build_png(arr))),
        (2, "image", bytearray(b"not an image at all")),
    ]
    d = spark.createDataFrame(
        rows, schema="media_id long, kind string, payload binary"
    )
    got = {
        r["media_id"]: r["features"]
        for r in extract_media_features(d, decode_stub=False).collect()
    }
    assert got[2] is None
    f = got[1]
    assert f[:6] == [5.0, 3.0, 3.0, 10.0, 20.0, 255.0]
    assert f[6:] == [0.0] * 10


def test_wav_roundtrip_and_error_paths():
    import numpy as np
    import pytest as _pytest

    from pii_detector_spark.sources.wav import (
        WavParseError,
        build_wav,
        decode_wav,
    )

    rng = np.random.default_rng(3)
    for ch in (1, 2, 4):
        arr = rng.integers(-32768, 32767, size=(25, ch), dtype=np.int64)
        rate, channels, n, samples = decode_wav(build_wav(arr, rate=16000))
        assert (rate, channels, n) == (16000, ch, 25)
        assert np.array_equal(samples, arr.astype(np.float64))
    # mono 1-D input
    arr = rng.integers(-100, 100, size=50, dtype=np.int64)
    _, channels, n, samples = decode_wav(build_wav(arr))
    assert channels == 1 and n == 50
    assert np.array_equal(samples[:, 0], arr.astype(np.float64))
    with _pytest.raises(WavParseError):
        decode_wav(b"RIFFxxxxWAVEfmt corrupted")
    with _pytest.raises(WavParseError):
        decode_wav(b"not a wav at all")


def test_wav_through_spark_seam(spark):
    import numpy as np

    from pii_detector_spark.operators.multimodal import (
        extract_media_features,
    )
    from pii_detector_spark.sources.wav import build_wav

    sq = np.where(np.arange(10) % 2 == 0, 500, -500)
    dc = np.full(10, 250)
    payload = build_wav(np.stack([dc, sq], axis=1), rate=44100)
    rows = [(1, "audio", bytearray(payload)),
            (2, "audio", bytearray(b"RIFF\x00\x00\x00\x00AVI junk"))]
    d = spark.createDataFrame(
        rows, schema="media_id long, kind string, payload binary"
    )
    got = {
        r["media_id"]: r["features"]
        for r in extract_media_features(d, decode_stub=False).collect()
    }
    assert got[2] is None
    f = got[1]
    assert f[:5] == [44100.0, 2.0, 10.0, 250.0, 0.0]
    assert f[7] == 250.0 and f[8] == 500.0


def test_decompression_bomb_guards():
    """PDF content streams and PNG IDAT are capped (same per-item
    expansion policy as the archive zip-bomb guard): a crafted bomb
    raises before allocating, and normal documents are unaffected."""
    import struct
    import zlib as _zlib

    import numpy as np
    import pytest as _pytest

    from pii_detector_spark.sources.pdf import (
        PdfParseError,
        build_simple_pdf,
        extract_pdf_text,
    )
    from pii_detector_spark.sources.png import (
        PngParseError,
        build_png,
        decode_png,
    )

    # normal paths unaffected
    arr = np.arange(60, dtype=np.uint8).reshape(4, 5, 3)
    assert np.array_equal(decode_png(build_png(arr))[3], arr)
    assert extract_pdf_text(build_simple_pdf(["ok"])) == "ok"

    def chunk(t, b):
        return (
            struct.pack(">I", len(b)) + t + b
            + struct.pack(">I", _zlib.crc32(t + b) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 100000, 100000, 8, 6, 0, 0, 0)
    png_bomb = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _zlib.compress(b"\0" * 1000))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(PngParseError, match="decoded image would be"):
        decode_png(png_bomb)

    payload = _zlib.compress(b"\0" * (70 * 1024 * 1024), 1)
    pdf_bomb = (
        b"%PDF-1.4\n1 0 obj << /Length "
        + str(len(payload)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + payload
        + b"\nendstream endobj\n"
        b"2 0 obj << /Type /Catalog /Pages 3 0 R >> endobj\n"
        b"3 0 obj << /Type /Pages /Kids [4 0 R] /Count 1 >> endobj\n"
        b"4 0 obj << /Type /Page /Contents 1 0 R >> endobj\n"
        b"trailer << /Root 2 0 R >>"
    )
    with _pytest.raises(PdfParseError, match="decompression bomb"):
        extract_pdf_text(pdf_bomb)


def test_gif_roundtrip_property():
    """build_gif → decode_gif is the identity on (indices→palette) pixels
    across palette sizes, LZW dict growth/reset, and interlace."""
    import numpy as np

    from pii_detector_spark.sources.gif import build_gif, decode_gif

    rng = np.random.default_rng(11)
    cases = [
        # (palette_n, h, w, interlace)
        (2, 9, 7, False),
        (16, 33, 10, True),       # interlace: 4-pass row order
        (256, 100, 120, False),   # width growth + multiple sub-blocks
        (256, 300, 300, True),    # dict RESET (4096 cap) + interlace
        (8, 1, 1, False),         # single pixel
    ]
    for n, h, w, inter in cases:
        pal = rng.integers(0, 256, (n, 3)).astype(np.uint8)
        idx = rng.integers(0, n, (h, w)).astype(np.uint8)
        _sw, _sh, ch, rgb = decode_gif(build_gif(idx, pal, interlace=inter))
        assert ch == 3
        assert np.array_equal(rgb, pal[idx]), (n, h, w, inter)


def test_gif_error_paths():
    import numpy as np
    import pytest as _pytest

    from pii_detector_spark.sources.gif import (
        GifParseError,
        build_gif,
        decode_gif,
    )

    pal = np.array([[1, 2, 3], [4, 5, 6]], np.uint8)
    good = build_gif(np.zeros((3, 3), np.uint8), pal)
    for bad in (
        b"",                      # empty
        b"GIF89a",                # header only
        good[:20],                # truncated mid-stream
        b"NOTGIF" + b"x" * 30,    # wrong magic
        good[:-2] + b"\x00",      # trailer clipped mid-structure is fine…
    ):
        if bad == good[:-2] + b"\x00":
            continue  # decode stops at the image block — still valid
        with _pytest.raises(GifParseError):
            decode_gif(bad)
    # declared-size bomb guard: huge canvas rejected before any inflate
    import struct

    bomb = bytearray(good)
    bomb[6:10] = struct.pack("<HH", 0xFFFF, 0xFFFF)
    # image descriptor dims live later; patch them too
    w_off = good.index(b"\x2c") + 5
    bomb[w_off:w_off + 4] = struct.pack("<HH", 0xFFFF, 0xFFFF)
    with _pytest.raises(GifParseError, match="out of bounds"):
        decode_gif(bytes(bomb))


def test_gif_extension_blocks_skipped():
    """Graphic-control/comment extensions before the frame are walked via
    the sub-block chain per spec."""
    import numpy as np

    from pii_detector_spark.sources.gif import build_gif, decode_gif

    pal = np.array([[10, 20, 30], [40, 50, 60]], np.uint8)
    idx = np.array([[0, 1], [1, 0]], np.uint8)
    raw = build_gif(idx, pal)
    # splice a GCE (0x21 0xF9) and a comment (0x21 0xFE) before the 0x2C
    img_at = raw.index(b"\x2c")
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    comment = b"\x21\xfe\x05hello\x00"
    spliced = raw[:img_at] + gce + comment + raw[img_at:]
    _w, _h, ch, rgb = decode_gif(spliced)
    assert np.array_equal(rgb, pal[idx])


def test_gif_through_spark_seam(spark):
    """GIF payloads decode inside extract_media_features; junk degrades
    per file to null features."""
    import numpy as np

    from pii_detector_spark.operators import multimodal
    from pii_detector_spark.sources.gif import build_gif

    pal = np.stack(
        [np.arange(64, dtype=np.uint8),
         (np.arange(64) * 2).astype(np.uint8),
         (np.arange(64) * 3).astype(np.uint8)], axis=1)
    idx = (np.add.outer(np.arange(5), np.arange(6)) % 64).astype(np.uint8)
    rows = [
        (1, "image", bytearray(build_gif(idx, pal))),
        (2, "image", bytearray(b"GIF89a" + b"\x00" * 4)),  # corrupt
    ]
    d = spark.createDataFrame(
        rows, schema="media_id long, kind string, payload binary"
    )
    out = {
        r["media_id"]: r["features"]
        for r in multimodal.extract_media_features(
            d, decode_stub=False
        ).collect()
    }
    exp_mean0 = float(pal[idx][:, :, 0].mean())
    assert out[1] is not None
    assert out[1][0] == 6.0 and out[1][1] == 5.0 and out[1][2] == 3.0
    assert abs(out[1][3] - exp_mean0) < 1e-9
    assert out[2] is None  # per-file degradation


def test_jpeg_roundtrip_uniform_exact_and_lossy_bounds():
    """Unit-quant baseline JPEG: uniform images (gray + color, including
    non-multiple-of-8 dims via edge replication) decode bit-exactly;
    arbitrary content round-trips within the float-DCT quantization
    bound."""
    import numpy as np

    from pii_detector_spark.sources.jpeg import build_jpeg, decode_jpeg

    for c in (0, 7, 128, 255):
        img = np.full((13, 21), c, np.uint8)  # odd dims: edge blocks
        w, h, ch, px = decode_jpeg(build_jpeg(img))
        assert (w, h, ch) == (21, 13, 1)
        assert np.array_equal(px, img)
    img = np.zeros((16, 16, 3), np.uint8)
    img[...] = (37, 180, 99)
    _w, _h, ch, px = decode_jpeg(build_jpeg(img))
    assert ch == 3 and np.array_equal(px, img)

    rng = np.random.default_rng(3)
    gray = rng.integers(0, 256, (40, 56)).astype(np.uint8)
    _w, _h, _ch, px = decode_jpeg(build_jpeg(gray))
    assert np.abs(px.astype(int) - gray.astype(int)).max() <= 2
    rgb = rng.integers(0, 256, (24, 32, 3)).astype(np.uint8)
    _w, _h, _ch, px = decode_jpeg(build_jpeg(rgb))
    assert np.abs(px.astype(int) - rgb.astype(int)).max() <= 3


def test_jpeg_error_paths():
    import numpy as np
    import pytest as _pytest

    from pii_detector_spark.sources.jpeg import (
        JpegParseError,
        build_jpeg,
        decode_jpeg,
    )

    good = build_jpeg(np.full((8, 8), 5, np.uint8))
    for bad in (b"", b"\xff\xd8", good[:30], b"nope" * 10):
        with _pytest.raises(JpegParseError):
            decode_jpeg(bad)
    # progressive (SOF2) explicitly unsupported, not misdecoded
    sof0_at = good.index(b"\xff\xc0")
    prog = good[:sof0_at] + b"\xff\xc2" + good[sof0_at + 2:]
    with _pytest.raises(JpegParseError, match="non-baseline"):
        decode_jpeg(prog)
    # declared-size bomb guard
    import struct as _struct

    bomb = bytearray(good)
    dims_at = sof0_at + 5
    bomb[dims_at:dims_at + 4] = _struct.pack(">HH", 0xFFFF, 0xFFFF)
    with _pytest.raises(JpegParseError, match="out of bounds"):
        decode_jpeg(bytes(bomb))


def test_jpeg_through_spark_seam(spark):
    """JPEG payloads decode inside extract_media_features next to PNG and
    GIF; corrupt payloads degrade per file."""
    import numpy as np

    from pii_detector_spark.operators import multimodal
    from pii_detector_spark.sources.jpeg import build_jpeg

    img = np.zeros((10, 12, 3), np.uint8)
    img[...] = (50, 100, 150)
    rows = [
        (1, "image", bytearray(build_jpeg(img))),
        (2, "image", bytearray(b"\xff\xd8\xff\xee broken")),
    ]
    d = spark.createDataFrame(
        rows, schema="media_id long, kind string, payload binary"
    )
    out = {
        r["media_id"]: r["features"]
        for r in multimodal.extract_media_features(
            d, decode_stub=False
        ).collect()
    }
    assert out[1][:3] == [12.0, 10.0, 3.0]
    assert out[1][3:6] == [50.0, 100.0, 150.0]
    assert out[2] is None
