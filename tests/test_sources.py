"""Source adapter tests (SURVEY.md C1-C5): multi-CSV unionByName,
stdlib xlsx reader (against both a generated fixture and the
reference's real ResultsSite.xlsx), and the PDF-table plumbing with
the deterministic fake extractor."""

from __future__ import annotations

import glob
import os

import pytest

from waterdata_spark.sources.csv import csv_headers, read_csv, read_csv_multi
from waterdata_spark.sources.down_pages import write_xlsx
from waterdata_spark.sources.excel import read_excel_sheet, read_excel_sheets
from waterdata_spark.sources.pdf_table import (
    fake_pdf_text_extractor,
    parse_banner,
    read_pdf_tables,
    stitch_pages,
)
from waterdata_spark.sources.sink import checkpoint_parquet, write_csv

REF_DOWN = "/root/reference/down"


class TestCsv:
    def test_union_by_name_different_orders(self, spark, tmp_path):
        # the §1.3 hazard: same columns, different order across files
        (tmp_path / "a.csv").write_text("x,y\n1,2\n")
        (tmp_path / "b.csv").write_text("y,x\n20,10\n")
        df = read_csv_multi(spark, [str(tmp_path / "a.csv"), str(tmp_path / "b.csv")])
        rows = sorted((r["x"], r["y"]) for r in df.collect())
        assert rows == [("1", "2"), ("10", "20")]

    def test_multi_matches_per_file_union(self, spark, tmp_path):
        """Differential: header-grouped scans give the same columns (names
        and order) and rows as per-file ``read_csv`` + ``unionByName``, over
        two header orders, a quoted header with a comma, a UTF-8 BOM, and
        empty and duplicate header names; finding the headers (and building
        the union) starts no Spark job."""
        from functools import reduce

        files = {
            "a.csv": "a,b,c\n1,2,3\n",
            "b.csv": "c,a,b\n6,4,5\n",
            "q.csv": '"x,y",a\n"7,8",9\n',
            "bom.csv": "\ufeffb,a\n11,10\n",
            "dup.csv": "a,,a,b,B\n12,13,14,15,16\n",
            "a2.csv": "a,b,c\n17,18,19\n",
        }
        for name, text in files.items():
            (tmp_path / name).write_text(text, encoding="utf-8")
        paths = [str(tmp_path / n) for n in files]

        sc = spark.sparkContext
        group = "csv-header-discovery"
        sc.setJobGroup(group, "header discovery must start no job")
        try:
            headers = csv_headers(spark, paths)
            got = read_csv_multi(spark, paths)
            assert sc.statusTracker().getJobIdsForGroup(group) == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        want = reduce(
            lambda x, y: x.unionByName(y, allowMissingColumns=True), [read_csv(spark, p) for p in paths]
        )
        assert headers[3] == ["b", "a"]  # BOM stripped
        assert headers[4] == ["a0", "_c1", "a2", "b3", "B4"]
        assert got.columns == want.columns
        assert sorted(map(tuple, got.collect()), key=repr) == sorted(map(tuple, want.collect()), key=repr)

    def test_multi_rejects_non_files(self, spark, tmp_path):
        (tmp_path / "a.csv").write_text("a\n1\n")
        for p in [tmp_path, tmp_path / "*.csv", tmp_path / "missing.csv"]:
            with pytest.raises(ValueError, match="not a file"):
                read_csv_multi(spark, [str(tmp_path / "a.csv"), str(p)])

    @pytest.mark.skipif(not os.path.exists(REF_DOWN), reason="reference data absent")
    def test_reference_yearly_files(self, spark):
        """The shipped rptinfo CSVs: 2014-2016 vs 2017+ column orders
        must union to 144,595 rows with one schema."""
        paths = sorted(glob.glob(f"{REF_DOWN}/rptinfo*.csv"))
        df = read_csv_multi(spark, paths)
        assert df.count() == 144595
        assert len(df.columns) == 16


class TestExcel:
    def test_generated_roundtrip(self, spark, tmp_path):
        p = write_xlsx(
            str(tmp_path / "t.xlsx"),
            {"S1": [["A", "B"], ["x", 1], [None, 2.5]], "S2": [["C"], ["only"]]},
        )
        df = read_excel_sheet(spark, p, "S1")
        assert df.columns == ["A", "B"]
        rows = df.collect()
        assert (rows[0]["A"], rows[0]["B"]) == ("x", "1")
        assert rows[1]["A"] is None and rows[1]["B"] == "2.5"
        both = read_excel_sheets(spark, p, ["S1", "S2"])
        assert both["S2"].collect()[0]["C"] == "only"

    @pytest.mark.skipif(not os.path.exists(f"{REF_DOWN}/ResultsSite.xlsx"), reason="reference data absent")
    def test_reference_results_site(self, spark):
        """The real sites dim: 5,564 data rows, 9 declared columns
        (SURVEY.md §1.1 'sites')."""
        df = read_excel_sheet(spark, f"{REF_DOWN}/ResultsSite.xlsx")
        assert df.count() == 5564
        assert df.columns == [
            "SITE_ID", "SITE_NAME", "SISSCD_ID", "EPA_SITE_ID",
            "ADDRESS1", "ADDRESS2", "CITY", "STATE_CODE", "ZIP_CODE",
        ]


FAKE_PDF = (
    "*** PWSID = 6430001 | SYSTEM NAME = SCENIC MHP ***\n"
    "#HEADER\tSample Location\tContaminant ID\tAnalysis Result\tMCL In Effect\tSample Date\tSample Type\tLaboratory ID\tAnalysis Method\tAnalysis Date\tSample Received Date\n"
    "101\tCHLORINE\t0.72\t.\t01/01/2014\tENTRY POINT\tLAB1\tM1\t01/01/2014\t02/07/2014\n"
    "\f"
    "continuation page without header\n"
    "102\tLEAD\t0.01\t0.015\t02/01/2014\tDISTRIBUTION\tLAB2\tM2\t02/02/2014\t02/09/2014\n"
    "\f"
    "*** PWSID = 6430002 | SYSTEM NAME = OTHER SYSTEM ***\n"
    "#HEADER\tSample Location\tContaminant ID\tAnalysis Result\tMCL In Effect\tSample Date\n"
    "201\tNITRATE\t1.1\t10\t03/01/2014\n"
    "\f"
    "right half of split page\n"
    "#HEADER\tSample Type\tLaboratory ID\tAnalysis Method\tAnalysis Date\tSample Received Date\n"
    "RAW WATER\tLAB3\tM3\t03/02/2014\t03/05/2014\n"
)


class TestPdfTable:
    def test_parse_banner(self):
        assert parse_banner("*** PWSID = 123 | SYSTEM NAME = FOO BAR ***") == ("123", "FOO BAR")
        assert parse_banner("no banner here") is None

    def test_stitch_pages_semantics(self):
        pages = fake_pdf_text_extractor(FAKE_PDF.encode())
        rows = stitch_pages(pages)
        assert len(rows) == 3
        # page 1: full header
        assert rows[0]["PWSID"] == "6430001" and rows[0]["Contaminant ID"] == "CHLORINE"
        # page 2: headerless continuation carries header AND banner group (C5d)
        assert rows[1]["PWSID"] == "6430001" and rows[1]["Contaminant ID"] == "LEAD"
        assert rows[1]["SYSNAME_PAGE"] == "1" and rows[1]["MAIN_PAGE"] == "2"
        # pages 3+4: split column-pages recombined (C5c); SPLIT_PAGES
        # counts the pages the table spanned (reference :727,:766)
        assert rows[2]["PWSID"] == "6430002"
        assert rows[2]["Contaminant ID"] == "NITRATE" and rows[2]["Laboratory ID"] == "LAB3"
        assert rows[2]["SPLIT_PAGES"] == "2"
        assert rows[0]["SPLIT_PAGES"] == "1" and rows[1]["SPLIT_PAGES"] == "1"
        # split provenance comes from the LEFT page (reference :731)
        assert rows[2]["MAIN_PAGE"] == "3"

    def test_unpaired_left_fragment_flushed(self):
        """ADVICE r1: a left fragment with no right half must be emitted
        with NULL right columns, not silently dropped."""
        text = (
            "*** PWSID = 1 | SYSTEM NAME = A ***\n"
            "#HEADER\tSample Location\tContaminant ID\tAnalysis Result\tMCL In Effect\tSample Date\n"
            "301\tCOPPER\t0.5\t1.3\t04/01/2014\n"
        )
        import warnings as _warnings

        with _warnings.catch_warnings():
            _warnings.simplefilter("ignore")
            rows = stitch_pages(fake_pdf_text_extractor(text.encode()))
        assert len(rows) == 1
        assert rows[0]["Contaminant ID"] == "COPPER"
        assert rows[0]["Laboratory ID"] is None  # right columns NULL

    def test_repeated_left_fragment_not_mis_stitched(self):
        """Two consecutive LEFT fragments (overlapping columns) must not
        be zipped together as left+right."""
        text = (
            "*** PWSID = 1 | SYSTEM NAME = A ***\n"
            "#HEADER\tSample Location\tContaminant ID\tAnalysis Result\tMCL In Effect\tSample Date\n"
            "401\tZINC\t0.2\t5\t05/01/2014\n"
            "\f"
            "another left fragment, same columns\n"
            "#HEADER\tSample Location\tContaminant ID\tAnalysis Result\tMCL In Effect\tSample Date\n"
            "402\tIRON\t0.1\t0.3\t05/02/2014\n"
        )
        import warnings as _warnings

        with _warnings.catch_warnings():
            _warnings.simplefilter("ignore")
            rows = stitch_pages(fake_pdf_text_extractor(text.encode()))
        assert [r["Contaminant ID"] for r in rows] == ["ZINC", "IRON"]
        assert all(r["Laboratory ID"] is None for r in rows)

    def test_split_fragments_unequal_rows_padded(self):
        """Unequal fragment row counts pad with NULLs instead of
        zip-truncating (no silent row loss)."""
        text = (
            "*** PWSID = 1 | SYSTEM NAME = A ***\n"
            "#HEADER\tSample Location\tContaminant ID\tAnalysis Result\tMCL In Effect\tSample Date\n"
            "501\tARSENIC\t0.001\t0.01\t06/01/2014\n"
            "502\tRADIUM\t0.5\t5\t06/02/2014\n"
            "\f"
            "right half with only one row\n"
            "#HEADER\tSample Type\tLaboratory ID\tAnalysis Method\tAnalysis Date\tSample Received Date\n"
            "RAW WATER\tLAB9\tM9\t06/03/2014\t06/05/2014\n"
        )
        import warnings as _warnings

        with _warnings.catch_warnings():
            _warnings.simplefilter("ignore")
            rows = stitch_pages(fake_pdf_text_extractor(text.encode()))
        assert len(rows) == 2  # both left rows survive
        assert rows[0]["Contaminant ID"] == "ARSENIC" and rows[0]["Laboratory ID"] == "LAB9"
        assert rows[1]["Contaminant ID"] == "RADIUM" and rows[1]["Laboratory ID"] is None

    def test_distributed_read(self, spark, tmp_path):
        """C5 plumbing: binaryFile scan → mapInPandas, parallel across files."""
        for i in range(3):
            (tmp_path / f"y{i}.pdf").write_bytes(FAKE_PDF.encode())
        df = read_pdf_tables(spark, str(tmp_path / "*.pdf"), extractor=fake_pdf_text_extractor)
        assert df.count() == 9
        assert df.select("source_file").distinct().count() == 3
        assert "PWSID" in df.columns and "TOP_MARGIN" in df.columns

    def test_real_extractor_default_handles_junk(self, spark, tmp_path):
        """The default (geometric, C5b) extractor is live: a non-PDF
        byte blob yields zero pages, not an exception."""
        (tmp_path / "x.pdf").write_bytes(b"%PDF-fake")
        df = read_pdf_tables(spark, str(tmp_path / "x.pdf"))
        assert df.count() == 0


class TestSinks:
    def test_checkpoint_roundtrip(self, spark, tmp_path):
        df = spark.range(10).withColumnRenamed("id", "n")
        back = checkpoint_parquet(df, str(tmp_path / "ckpt"))
        assert back.count() == 10 and back.columns == ["n"]

    def test_write_csv(self, spark, tmp_path):
        write_csv(spark.range(3), str(tmp_path / "out"), single_file=True)
        files = glob.glob(str(tmp_path / "out" / "*.csv"))
        assert len(files) == 1


class TestPdfTextDecoder:
    """Stdlib PDF text decoder against the reference's real shipped PDF."""

    RAW = None

    @pytest.fixture(scope="class")
    def pdf_raw(self):
        p = f"{REF_DOWN}/API_User_Guide.pdf"
        if not os.path.exists(p):
            pytest.skip("reference PDF absent")
        with open(p, "rb") as f:
            return f.read()

    def test_extracts_all_pages(self, pdf_raw):
        from waterdata_spark.sources.pdf_table import extract_pdf_text_pages

        pages = extract_pdf_text_pages(pdf_raw)
        assert len(pages) == 92
        assert "CDC Environmental Health Tracking Network API User Guide" in pages[0]

    def test_deterministic(self, pdf_raw):
        from waterdata_spark.sources.pdf_table import extract_pdf_text_pages

        assert extract_pdf_text_pages(pdf_raw) == extract_pdf_text_pages(pdf_raw)

    def test_distributed_real_decode(self, spark, tmp_path, pdf_raw):
        """binaryFile → mapInPandas with the REAL decoder: page text is
        recovered inside executors (no table rows in this doc-style PDF,
        but the plumbing + decode run end-to-end)."""
        from waterdata_spark.sources.pdf_table import basic_pdf_text_extractor, read_pdf_tables

        (tmp_path / "guide.pdf").write_bytes(pdf_raw)
        df = read_pdf_tables(spark, str(tmp_path / "guide.pdf"), extractor=basic_pdf_text_extractor)
        # a prose PDF has no 16-column sample tables → zero rows, no errors
        assert df.count() == 0

    def test_banner_roundtrip_through_decoder(self, spark, tmp_path):
        """A synthetic one-page PDF built with stdlib must decode back to
        the same banner + rows through the full distributed path."""
        import zlib

        from waterdata_spark.sources.pdf_table import basic_pdf_text_extractor, read_pdf_tables

        header = "\t".join(
            ["Sample Location", "Contaminant ID", "Analysis Result", "MCL In Effect", "Sample Date",
             "Sample Type", "Laboratory ID", "Analysis Method", "Analysis Date", "Sample Received Date"]
        )
        text_lines = [
            "*** PWSID = 6430001 | SYSTEM NAME = SCENIC MHP ***",
            header,
            "101\tCHLORINE\t0.72\t.\t01/01/2014\tENTRY POINT\tLAB1\tM1\t01/01/2014\t02/07/2014",
        ]
        # escape ( ) \ and tab for PDF literal strings
        def esc(s):
            return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)").replace("\t", r"\t")

        content = "BT " + " ".join(f"0 -12 Td ({esc(ln)}) Tj" for ln in text_lines) + " ET"
        stream = zlib.compress(content.encode("latin-1"))
        pdf = (
            b"%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
            b"4 0 obj\n<< /Length " + str(len(stream)).encode() + b" /Filter /FlateDecode >>\nstream\n"
            + stream + b"\nendstream\nendobj\n"
            b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
        )
        (tmp_path / "sample.pdf").write_bytes(pdf)
        df = read_pdf_tables(spark, str(tmp_path / "sample.pdf"), extractor=basic_pdf_text_extractor)
        rows = df.collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["PWSID"] == "6430001" and r["SYSTEM NAME"] == "SCENIC MHP"
        assert r["Contaminant ID"] == "CHLORINE" and r["Analysis Result"] == "0.72"


class TestLoadTableTimestampLayouts:
    """Engine contract (schemas.load_table): ``events.ts`` is epoch-ns
    long after loading, for EVERY physical parquet layout the driver
    has shipped — INT64 TIMESTAMP(NANOS) (rounds 1-3), timestamp[us]
    NTZ (round 4) — plus the LTZ variant, and under a non-UTC session
    timezone (the external driver's session is not ours to configure)."""

    TS_US = [1_577_836_800_000_000, 1_600_000_000_123_456]  # 2020-01-01, 2020-09-13

    def _write(self, tmp_path, name, arrow_type):
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = tmp_path / name
        d.mkdir()
        tbl = pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(self.TS_US, pa.timestamp("us")).cast(arrow_type),
                "user_id": pa.array([10, 20], pa.int64()),
                "event_type": pa.array(["a", "b"]),
                "value": pa.array([1.0, 2.0]),
                "props": pa.array(["{}", "{}"]),
            }
        )
        pq.write_table(tbl, str(d / "events.parquet"))
        return str(d)

    @pytest.mark.parametrize(
        "arrow_type_name", ["timestamp[ns]", "timestamp[us]", "timestamp[us, tz=UTC]"]
    )
    def test_every_layout_yields_epoch_ns_longs(self, spark, tmp_path, arrow_type_name):
        import pyarrow as pa

        from waterdata_spark.schemas import load_table

        arrow_type = {
            "timestamp[ns]": pa.timestamp("ns"),
            "timestamp[us]": pa.timestamp("us"),
            "timestamp[us, tz=UTC]": pa.timestamp("us", tz="UTC"),
        }[arrow_type_name]
        # brackets are Hadoop glob metacharacters — keep them out of the path
        safe = arrow_type_name.translate(str.maketrans("", "", "[], =")).replace("tz", "_tz")
        sf_dir = self._write(tmp_path, safe, arrow_type)
        prev_tz = spark.conf.get("spark.sql.session.timeZone")
        try:
            spark.conf.set("spark.sql.session.timeZone", "America/New_York")
            df = load_table(spark, sf_dir, "events")
            assert dict(df.dtypes)["ts"] == "bigint"
            got = [r["ts"] for r in df.orderBy("event_id").collect()]
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev_tz)
        assert got == [us * 1000 for us in self.TS_US]

    @pytest.mark.parametrize(
        "arrow_type_name", ["timestamp[ns]", "timestamp[us]", "timestamp[us, tz=UTC]"]
    )
    def test_streaming_reader_matches_batch_contract(self, spark, tmp_path, arrow_type_name):
        """read_events_stream must emit the SAME epoch-ns longs as
        schemas.load_table for every physical layout (the stream probes
        the footer and adapts its declared schema + conversion)."""
        import pyarrow as pa

        from waterdata_spark.streaming.ops import read_events_stream, run_stream_to_memory

        arrow_type = {
            "timestamp[ns]": pa.timestamp("ns"),
            "timestamp[us]": pa.timestamp("us"),
            "timestamp[us, tz=UTC]": pa.timestamp("us", tz="UTC"),
        }[arrow_type_name]
        import shutil

        safe = "st_" + arrow_type_name.translate(str.maketrans("", "", "[], ="))
        sf_dir = self._write(tmp_path, safe, arrow_type)
        # file streams require a DIRECTORY source
        stream_dir = tmp_path / safe / "events_stream"
        stream_dir.mkdir()
        shutil.copy(f"{sf_dir}/events.parquet", str(stream_dir / "part-0.parquet"))
        stream = read_events_stream(spark, str(stream_dir))
        got = run_stream_to_memory(stream.select("event_id", "ts"), f"layout_{safe}")
        vals = {r["event_id"]: r["ts"] for r in got.collect()}
        assert vals == {1: self.TS_US[0] * 1000, 2: self.TS_US[1] * 1000}


class TestSortedLayout:
    def test_write_sorted_disjoint_ranges_and_pruning(self, spark, tmp_path):
        """Range-clustered parquet (sources/layout.write_sorted): each
        file covers a disjoint sort-key range, a narrow predicate's
        stats-respecting scan touches a small fraction of row groups,
        and the layout is a pure reordering (same rows back)."""
        import datetime

        from pyspark.sql import functions as F

        from tests.conftest import SF_ORACLE
        from waterdata_spark.schemas import load_table
        from waterdata_spark.sources.layout import skipping_stats, write_sorted

        li = load_table(spark, SF_ORACLE, "lineitem").select(
            "l_orderkey", "l_shipdate", "l_extendedprice"
        )
        path = str(tmp_path / "li_sorted")
        write_sorted(li, path, ["l_shipdate"], n_files=8)

        lo = datetime.datetime(1996, 3, 1)
        hi = datetime.datetime(1996, 3, 31, 23, 59, 59)
        st = skipping_stats(path, "l_shipdate", lo, hi)
        assert st["n_files"] == 8
        # disjoint per-file ranges: sorted by min, each file's min must
        # not precede the previous file's max (boundary ties allowed)
        ranges = sorted(r for r in st["file_ranges"] if r[0] is not None)
        for (lo_a, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
            assert hi_a <= lo_b or lo_b >= lo_a
            assert hi_a <= lo_b, f"overlap: {hi_a} > {lo_b}"
        # a one-month slice of a ~7-year span must prune most groups
        assert st["n_row_groups_scanned"] <= max(2, st["n_row_groups"] // 4)
        # pure reordering: identical multiset of rows back
        back = spark.read.parquet(path)
        assert back.count() == li.count()
        a = li.agg(F.sum(F.crc32(F.concat_ws("|", "l_orderkey", "l_extendedprice")))).collect()[0][0]
        b = back.agg(F.sum(F.crc32(F.concat_ws("|", "l_orderkey", "l_extendedprice")))).collect()[0][0]
        assert a == b


class TestZorderLayout:
    """Z-order multi-column clustering (sources/layout.py, r9)."""

    def test_morton_interleave_differential(self, spark):
        """zorder_value == a pure-Python bit interleave on the full
        3-bit × 3-col grid (512 cells)."""
        from pyspark.sql import functions as F

        from waterdata_spark.sources.layout import zorder_value

        df = spark.createDataFrame(
            [(a, b, c) for a in range(8) for b in range(8) for c in range(8)],
            "a int, b int, c int",
        )
        got = {
            (r["a"], r["b"], r["c"]): r["z"]
            for r in df.withColumn(
                "z", zorder_value([F.col("a"), F.col("b"), F.col("c")], 3)
            ).collect()
        }

        def interleave(vals, bits, ncols):
            z = 0
            for j, v in enumerate(vals):
                for i in range(bits):
                    z |= ((v >> i) & 1) << (i * ncols + j)
            return z

        assert all(got[k] == interleave(k, 3, 3) for k in got)
        with pytest.raises(ValueError, match="exceeds a long"):
            zorder_value([F.col("a")] * 8, 8)

    def test_morton_4col_8bit_no_int32_wrap(self, spark):
        """4 cols × 8 bits uses bit positions up to 31 — the config that
        overflowed when the lookup table was array<int> (shiftleft
        preserves input type, so bits ≥ 31 wrapped negative; ADVICE r9
        high). Corners plus a sampled diagonal against the pure-Python
        interleave."""
        from pyspark.sql import functions as F

        from waterdata_spark.sources.layout import zorder_value

        vals = [0, 1, 127, 128, 200, 254, 255]
        rows = [(a, b, c, d) for a in vals for b in vals for c in vals for d in vals]
        df = spark.createDataFrame(rows, "a int, b int, c int, d int")
        got = {
            (r["a"], r["b"], r["c"], r["d"]): r["z"]
            for r in df.withColumn(
                "z",
                zorder_value(
                    [F.col("a"), F.col("b"), F.col("c"), F.col("d")], 8
                ),
            ).collect()
        }

        def interleave(v, bits, ncols):
            z = 0
            for j, x in enumerate(v):
                for i in range(bits):
                    z |= ((x >> i) & 1) << (i * ncols + j)
            return z

        assert got[(255, 255, 255, 255)] == (1 << 32) - 1
        assert all(z >= 0 for z in got.values())
        assert all(got[k] == interleave(k, 8, 4) for k in got)

    def test_zorder_rejects_string_column(self, spark, tmp_path):
        """A non-numeric z-order column must raise, not silently bucket
        every row to 0 (ADVICE r9)."""
        from waterdata_spark.sources.layout import write_zordered

        df = spark.createDataFrame(
            [(1.0, "a"), (2.0, "b")], "x double, s string"
        )
        with pytest.raises(ValueError, match="must be numeric"):
            write_zordered(df, str(tmp_path / "bad"), ["x", "s"])

    def test_prunes_on_every_clustered_column(self, spark, tmp_path):
        """The point of the layout: a single-key sort prunes only its
        leading key; z-order prunes BOTH columns' range predicates, and
        the layout is a pure reordering (same rows back)."""
        import random

        from pyspark.sql import functions as F

        from waterdata_spark.sources.layout import (
            skipping_stats,
            write_sorted,
            write_zordered,
        )

        random.seed(7)
        rows = [
            (random.uniform(0, 1000), random.uniform(0, 1000), i)
            for i in range(60_000)
        ]
        df = spark.createDataFrame(rows, "x double, y double, id long")
        zo, so = str(tmp_path / "zo"), str(tmp_path / "so")
        write_zordered(df, zo, ["x", "y"], bits_per_col=6, n_files=16)
        write_sorted(df, so, ["x"], n_files=16)

        # a 5% slice on each dimension
        zx = skipping_stats(zo, "x", 100.0, 150.0)
        zy = skipping_stats(zo, "y", 100.0, 150.0)
        sy = skipping_stats(so, "y", 100.0, 150.0)
        assert sy["n_row_groups_scanned"] == sy["n_row_groups"]  # sort: no y pruning
        assert zx["n_row_groups_scanned"] <= zx["n_row_groups"] // 2
        assert zy["n_row_groups_scanned"] <= zy["n_row_groups"] // 2

        back = spark.read.parquet(zo)
        assert back.count() == df.count()
        a = df.agg(F.sum(F.crc32(F.col("id").cast("string")))).collect()[0][0]
        b = back.agg(F.sum(F.crc32(F.col("id").cast("string")))).collect()[0][0]
        assert a == b
        # the helper column must not leak into the written schema
        assert set(back.columns) == {"x", "y", "id"}

    def test_nulls_and_skew_land_in_buckets(self, spark, tmp_path):
        """Null values cluster into the lowest cell instead of erroring,
        and a heavily skewed column still yields equal-population
        buckets (sampled quantiles, not equal-width)."""
        from waterdata_spark.sources.layout import write_zordered

        rows = [(float(i % 10) if i % 7 else None, float(i * i), i) for i in range(5000)]
        df = spark.createDataFrame(rows, "x double, y double, id long")
        path = str(tmp_path / "zn")
        write_zordered(df, path, ["x", "y"], bits_per_col=4, n_files=4)
        back = spark.read.parquet(path)
        assert back.count() == 5000
        assert back.filter("x IS NULL").count() == df.filter("x IS NULL").count()


def _warc_record(
    wtype: bytes, uri: bytes | None, payload: bytes, ctype: bytes = b"text/plain"
) -> bytes:
    hdrs = [
        b"WARC/1.0",
        b"WARC-Type: " + wtype,
        b"WARC-Record-ID: <urn:uuid:" + wtype + b"-" + (uri or b"x") + b">",
        b"WARC-Date: 2024-01-01T00:00:00Z",
        b"Content-Type: " + ctype,
        b"Content-Length: " + str(len(payload)).encode(),
    ]
    if uri is not None:
        hdrs.insert(3, b"WARC-Target-URI: " + uri)
    return b"\r\n".join(hdrs) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def _http_payload(body: bytes) -> bytes:
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    )


class TestWarc:
    """WARC/WET reader: pure-Python record walk + Spark end-to-end."""

    def _archive(self) -> bytes:
        body = b"<html><body>Hello <b>crawl</b>\r\n\r\nworld</body></html>"
        return (
            _warc_record(b"warcinfo", None, b"software: test\r\n")
            + _warc_record(b"request", b"http://a.example/", b"GET / HTTP/1.1\r\n")
            + _warc_record(
                b"response",
                b"http://a.example/",
                _http_payload(body),
                ctype=b"application/http; msgtype=response",
            )
            + _warc_record(b"conversion", b"http://a.example/", b"Hello crawl world")
        )

    def test_split_records_framing(self):
        """Content-Length framing survives blank lines INSIDE payloads
        (a separator scan would mis-split the response body here)."""
        from waterdata_spark.sources.warc import split_warc_records

        recs = list(split_warc_records(self._archive()))
        assert [h["warc-type"] for h, _, _ in recs] == [
            "warcinfo", "request", "response", "conversion",
        ]
        # the response payload contains \r\n\r\n and is intact
        hdr, payload, trunc = recs[2]
        assert payload == _http_payload(
            b"<html><body>Hello <b>crawl</b>\r\n\r\nworld</body></html>"
        )
        assert not trunc
        assert hdr["warc-target-uri"] == "http://a.example/"

    def test_split_records_resyncs_after_damage(self):
        """A damaged region (no Content-Length) is skipped; the walk
        resyncs at the next version line — one bad record must not
        kill a 1 GB archive's task."""
        from waterdata_spark.sources.warc import split_warc_records

        damaged = (
            b"WARC/1.0\r\nWARC-Type: response\r\nno-length: x\r\n\r\ngarbage"
            + self._archive()
        )
        recs = list(split_warc_records(damaged))
        assert [h["warc-type"] for h, _, _ in recs] == [
            "warcinfo", "request", "response", "conversion",
        ]

    def test_gzip_members_equal_plain(self):
        """Per-record gzip members (the .warc.gz convention) parse
        identically to the plain stream."""
        import gzip

        from waterdata_spark.sources.warc import (
            _gunzip_members,
            split_warc_records,
        )

        plain = self._archive()
        # one member per record, concatenated
        parts = plain.split(b"WARC/1.0")
        members = b"".join(
            gzip.compress(b"WARC/1.0" + p) for p in parts if p
        )
        assert _gunzip_members(members) == plain
        a = [(h["warc-type"], p) for h, p, _ in split_warc_records(plain)]
        b = [
            (h["warc-type"], p)
            for h, p, _ in split_warc_records(_gunzip_members(members))
        ]
        assert a == b

    def test_read_warc_end_to_end(self, spark, tmp_path):
        from waterdata_spark.sources.warc import read_warc

        f = tmp_path / "seg-00000.warc"
        f.write_bytes(self._archive())
        out = read_warc(spark, str(f)).orderBy("warc_type").collect()
        # default types: response + conversion only
        assert [r["warc_type"] for r in out] == ["conversion", "response"]
        resp = out[1]
        # HTTP envelope stripped -> payload is the document body
        assert resp["payload"].startswith(b"<html>")
        assert resp["target_uri"] == "http://a.example/"
        assert resp["text"].startswith("<html>")
        assert not resp["truncated"]
        # conversion text survives decode
        assert out[0]["text"] == "Hello crawl world"

    def test_read_warc_truncation_cap(self, spark, tmp_path):
        from waterdata_spark.sources.warc import read_warc

        f = tmp_path / "big.warc"
        f.write_bytes(
            _warc_record(b"conversion", b"http://b.example/", b"x" * 1000)
        )
        r = read_warc(spark, str(f), max_payload_bytes=64).collect()[0]
        assert r["truncated"] and r["content_length"] == 64

    def test_read_wet(self, spark, tmp_path):
        from waterdata_spark.sources.warc import read_wet

        f = tmp_path / "seg.warc.gz"
        import gzip

        f.write_bytes(gzip.compress(self._archive()))
        out = read_wet(spark, str(f)).collect()
        assert len(out) == 1
        assert out[0]["text"] == "Hello crawl world"
        assert "payload" not in out[0].asDict()


class TestJsonl:
    def test_roundtrip_and_corrupt_capture(self, spark, tmp_path):
        from pyspark.sql import types as T

        from waterdata_spark.sources.jsonl import read_jsonl, split_corrupt

        p = tmp_path / "docs.jsonl"
        p.write_text(
            '{"doc_id": 1, "text": "alpha"}\n'
            "this line is not json\n"
            '{"doc_id": 2, "text": null}\n'
        )
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        )
        df = read_jsonl(spark, str(p), schema)
        clean, quarantine = split_corrupt(df)
        assert {r["doc_id"] for r in clean.collect()} == {1, 2}
        assert "_corrupt_record" not in clean.columns
        bad = quarantine.collect()
        assert len(bad) == 1 and "not json" in bad[0]["_corrupt_record"]

    def test_write_omits_nulls(self, spark, tmp_path):
        import glob as g

        from waterdata_spark.sources.jsonl import write_jsonl

        df = spark.createDataFrame(
            [(1, "a"), (2, None)], "doc_id long, text string"
        )
        out = str(tmp_path / "out")
        write_jsonl(df.coalesce(1), out)
        lines = []
        for part in g.glob(out + "/part-*"):
            lines += open(part).read().splitlines()
        assert any('"text":"a"' in l for l in lines)
        # null field omitted entirely (release convention)
        assert any(l == '{"doc_id":2}' for l in lines)


class TestCrawlIngestPipeline:
    """End-to-end crawl ingestion: WARC archive → URL-level dedup
    (canonical key) → html_to_text extraction → token-count gate →
    content-level exact dedup → per-host quota. Every stage is an
    existing operator; the test pins the hand-offs between them."""

    def test_warc_to_corpus(self, spark, tmp_path):
        import gzip

        from pyspark.sql import functions as F

        from waterdata_spark.functions.text import html_to_text, token_count
        from waterdata_spark.functions.urls import canonicalize_url, url_host
        from waterdata_spark.operators.dedup import exact_dedup
        from waterdata_spark.operators.sampling import stratified_sample_exact
        from waterdata_spark.sources.warc import read_warc

        page = b"<html><body><p>A decent page with enough words to keep.</p></body></html>"
        recs = [
            # same page under two URL spellings -> URL dedup collapses
            (b"http://A.example/doc?utm_source=x", page),
            (b"http://a.example/doc", page),
            # different URL, identical CONTENT -> content dedup collapses
            (b"http://a.example/copy", page),
            # short junk -> token gate drops
            (b"http://a.example/junk", b"<html><body>hi</body></html>"),
            # second host survives
            (b"http://b.example/other",
             b"<html><body><p>Entirely different words over here my friend.</p></body></html>"),
        ]
        blob = b"".join(
            _warc_record(
                b"response", u, _http_payload(p),
                ctype=b"application/http; msgtype=response",
            )
            for u, p in recs
        )
        f = tmp_path / "crawl-0.warc.gz"
        f.write_bytes(gzip.compress(blob))

        docs = (
            read_warc(spark, str(f), types=("response",))
            .withColumn("url", canonicalize_url("target_uri"))
            .withColumn("host", url_host("target_uri"))
        )
        # stage 1: URL-level dedup (first spelling wins deterministically
        # via min record id — here min canonical-url string id is fine)
        docs = exact_dedup(
            docs.withColumn("doc_id", F.col("target_uri")), ["url"], "doc_id"
        )
        # stage 2: extraction + token gate
        docs = docs.withColumn("text", html_to_text("text")).filter(
            token_count("text") >= 5
        )
        # stage 3: content-level dedup
        docs = exact_dedup(docs, ["text"], "doc_id")
        # stage 4: per-host quota (cap 10 — no-op here, shape check)
        docs = stratified_sample_exact(docs, "host", 10, "doc_id")

        out = {r["url"]: r["text"] for r in docs.collect()}
        assert set(out) == {
            "http://a.example/doc",
            "http://b.example/other",
        }
        assert out["http://a.example/doc"] == (
            "A decent page with enough words to keep."
        )


class TestTrainingShards:
    def test_write_manifest_and_roundtrip(self, spark, tmp_path):
        from waterdata_spark.sources.shards import (
            read_training_shards,
            write_training_shards,
            with_shard,
        )

        df = spark.createDataFrame(
            [(i, f"document number {i} with some words") for i in range(200)],
            "doc_id long, text string",
        )
        out = str(tmp_path / "release")
        man = write_training_shards(df, out, n_shards=8)
        assert man["total_rows"] == 200
        assert set(man["shards"]) == set(range(8))
        assert sum(s["rows"] for s in man["shards"].values()) == 200
        # one file per shard directory (the bucketed.py lesson)
        import glob as g

        for k in range(8):
            files = [
                f
                for f in g.glob(f"{out}/__shard={k}/*")
                if not f.endswith((".crc", "_SUCCESS"))
            ]
            assert len(files) == 1, (k, files)
        back = read_training_shards(spark, out)
        assert back.count() == 200
        assert {r["doc_id"] for r in back.collect()} == set(range(200))
        # partition pruning path: one shard only
        one = read_training_shards(spark, out, shards=[3])
        assert one.count() == man["shards"][3]["rows"]

    def test_within_shard_shuffle_deterministic_content_equal(self, spark, tmp_path):
        """shuffle_seed (r9): rows inside each shard file come out in
        xxhash order — pseudo-random but identical across rebuilds —
        while shard membership and the manifest digest are unchanged
        (digest certifies content, seed certifies order)."""
        import glob as g

        from waterdata_spark.sources.shards import write_training_shards

        df = spark.createDataFrame(
            [(i, f"document number {i} with some words") for i in range(300)],
            "doc_id long, text string",
        )
        plain = write_training_shards(df, str(tmp_path / "plain"), n_shards=4)
        sh1 = write_training_shards(
            df, str(tmp_path / "s1"), n_shards=4, shuffle_seed="order7"
        )
        sh2 = write_training_shards(
            df, str(tmp_path / "s2"), n_shards=4, shuffle_seed="order7"
        )
        assert sh1["shuffle_seed"] == "order7" and plain["shuffle_seed"] is None
        for k in range(4):
            assert sh1["shards"][k] == plain["shards"][k] == sh2["shards"][k]

        def order(base: str, k: int) -> list[int]:
            import json as j

            (f,) = [
                x
                for x in g.glob(f"{base}/__shard={k}/*")
                if not x.endswith((".crc", "_SUCCESS"))
            ]
            return [j.loads(line)["doc_id"] for line in open(f)]

        for k in range(4):
            o1, o2, op = order(str(tmp_path / "s1"), k), order(
                str(tmp_path / "s2"), k
            ), order(str(tmp_path / "plain"), k)
            assert o1 == o2  # rebuild-identical order
            assert sorted(o1) == sorted(op)  # same content
            assert o1 != sorted(o1)  # actually shuffled

    def test_curriculum_order_within_shards(self, spark, tmp_path):
        """order_by (r10): within-shard rows come out in curriculum
        order (here: score ascending — easy-to-hard) with id
        tie-breaks; shard membership and digests unchanged vs a plain
        write; mutually exclusive with shuffle_seed."""
        import glob as g
        import json as j

        import pytest as _pytest
        from pyspark.sql import functions as F

        from waterdata_spark.sources.shards import write_training_shards

        df = spark.createDataFrame(
            [(i, f"doc {i}", float((i * 37) % 100)) for i in range(300)],
            "doc_id long, text string, score double",
        )
        plain = write_training_shards(df, str(tmp_path / "cp"), n_shards=4)
        cur = write_training_shards(
            df, str(tmp_path / "cc"), n_shards=4, order_by=[F.col("score").asc()]
        )
        assert cur["curriculum"] is True and plain["curriculum"] is False
        for k in range(4):
            assert cur["shards"][k] == plain["shards"][k]

        for k in range(4):
            (f,) = [
                x
                for x in g.glob(str(tmp_path / "cc") + f"/__shard={k}/*")
                if not x.endswith((".crc", "_SUCCESS"))
            ]
            rows = [j.loads(line) for line in open(f)]
            keys = [(r["score"], r["doc_id"]) for r in rows]
            assert keys == sorted(keys)  # curriculum order + tie-break

        with _pytest.raises(ValueError):
            write_training_shards(
                df, str(tmp_path / "cx"), n_shards=4,
                order_by=["score"], shuffle_seed="s",
            )

    def test_append_matches_one_shot_union(self, spark, tmp_path):
        """append_training_shards (r11): the additive manifest after
        base + append must be IDENTICAL to a one-shot write of the
        union (rows/bytes/digest are plain sums), every appended row
        reads back from the shard its id hashes to, and appending to a
        release without a manifest raises."""
        from waterdata_spark.sources.shards import (
            append_training_shards,
            read_training_shards,
            write_training_shards,
        )

        base = spark.createDataFrame(
            [(i, f"document number {i} with some words") for i in range(200)],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [(i, f"document number {i} with some words") for i in range(200, 290)],
            "doc_id long, text string",
        )
        out = str(tmp_path / "incr")
        write_training_shards(base, out, n_shards=8)
        man = append_training_shards(batch, out)
        oneshot = write_training_shards(
            base.unionByName(batch), str(tmp_path / "oneshot"), n_shards=8
        )
        assert man == oneshot  # additive == one-shot, shard for shard
        back = read_training_shards(spark, out)
        assert {r["doc_id"] for r in back.collect()} == set(range(290))
        # appended rows land in the shard their id hashed to at release
        # time: partition pruning still finds them
        from waterdata_spark.sources.shards import with_shard

        k = {
            r["doc_id"]: r["__shard"]
            for r in with_shard(batch, "doc_id", 8).collect()
        }[250]
        one = read_training_shards(spark, out, shards=[k])
        assert 250 in {r["doc_id"] for r in one.collect()}
        with pytest.raises(FileNotFoundError):
            append_training_shards(batch, str(tmp_path / "nope"))

    def test_append_non_string_payload(self, spark, tmp_path):
        """id-array releases append too: text_col rides the manifest,
        digest/bytes use the canonical rendering (r11)."""
        from waterdata_spark.sources.shards import (
            append_training_shards,
            write_training_shards,
        )

        base = spark.createDataFrame(
            [(i, list(range(i % 5 + 1))) for i in range(60)],
            "doc_id long, input_ids array<int>",
        )
        batch = spark.createDataFrame(
            [(i, [1, 2, 3]) for i in range(60, 80)],
            "doc_id long, input_ids array<int>",
        )
        out = str(tmp_path / "ids_incr")
        write_training_shards(base, out, text_col="input_ids", n_shards=4)
        man = append_training_shards(batch, out)
        oneshot = write_training_shards(
            base.unionByName(batch),
            str(tmp_path / "ids_oneshot"),
            text_col="input_ids",
            n_shards=4,
        )
        assert man == oneshot

    def test_assignment_deterministic_under_partitioning(self, spark, tmp_path):
        from waterdata_spark.sources.shards import with_shard

        df = spark.createDataFrame(
            [(i, f"t{i}") for i in range(500)], "doc_id long, text string"
        )
        a = {
            r["doc_id"]: r["__shard"]
            for r in with_shard(df, "doc_id", 16).collect()
        }
        b = {
            r["doc_id"]: r["__shard"]
            for r in with_shard(df.repartition(13), "doc_id", 16).collect()
        }
        assert a == b
        assert set(a.values()) == set(range(16))  # all shards populated

    def test_manifest_digest_detects_content_change(self, spark, tmp_path):
        from waterdata_spark.sources.shards import write_training_shards

        rows = [(i, f"text {i}") for i in range(50)]
        df1 = spark.createDataFrame(rows, "doc_id long, text string")
        df2 = spark.createDataFrame(
            [(i, t + ("!" if i == 7 else "")) for i, t in rows],
            "doc_id long, text string",
        )
        m1 = write_training_shards(df1, str(tmp_path / "r1"), n_shards=4)
        m2 = write_training_shards(df2, str(tmp_path / "r2"), n_shards=4)
        diff = [
            k
            for k in m1["shards"]
            if m1["shards"][k]["digest"] != m2["shards"][k]["digest"]
        ]
        # exactly the shard holding doc 7 differs
        assert len(diff) == 1
        same = [
            k
            for k in m1["shards"]
            if m1["shards"][k] == m2["shards"][k]
        ]
        assert len(same) == 3
