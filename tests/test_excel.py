"""Excel ingest/egress round trip (sources/excel.py) — the reference's
I/O contract: companies.xlsx in (app.py:282), output.xlsx out
(app.py:307-310), 2-column input contract (server.py:309-313)."""

from __future__ import annotations

import zipfile

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from leadsight_sales_agent_spark.operators.enrich import OUTPUT_COLUMNS, enrich_pipeline
from leadsight_sales_agent_spark.sources.excel import (
    read_excel,
    read_excel_rows,
    validate_companies_contract,
    write_excel,
    write_excel_rows,
)


class TestRowRoundTrip:
    def test_values_survive(self, tmp_path):
        path = str(tmp_path / "t.xlsx")
        header = ["name", "n", "ratio", "flag", "empty"]
        rows = [
            ["Acme & Söhne <GmbH>", 42, 2.5, True, None],
            ["新世界", -1, 0.125, False, None],
        ]
        write_excel_rows(path, header, rows)
        h2, r2 = read_excel_rows(path)
        assert h2 == header
        assert r2 == rows

    def test_reads_shared_strings_workbooks(self, tmp_path):
        # pandas/openpyxl write string cells via xl/sharedStrings.xml
        # (t="s"); build one by hand to pin that read path.
        path = str(tmp_path / "shared.xlsx")
        ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr(
                "[Content_Types].xml",
                '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
                '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
                '<Default Extension="xml" ContentType="application/xml"/></Types>',
            )
            zf.writestr(
                "xl/sharedStrings.xml",
                f'<?xml version="1.0"?><sst {ns}><si><t>company_name</t></si>'
                f"<si><t>website</t></si><si><t>Acme</t></si>"
                f"<si><r><t>https://</t></r><r><t>acme.com</t></r></si></sst>",
            )
            zf.writestr(
                "xl/worksheets/sheet1.xml",
                f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
                '<row><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
                '<row><c r="A2" t="s"><v>2</v></c><c r="B2" t="s"><v>3</v></c></row>'
                "</sheetData></worksheet>",
            )
        header, rows = read_excel_rows(path)
        assert header == ["company_name", "website"]
        assert rows == [["Acme", "https://acme.com"]]  # rich-text runs joined

    def test_sparse_cells_become_nulls(self, tmp_path):
        path = str(tmp_path / "sparse.xlsx")
        ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr(
                "xl/worksheets/sheet1.xml",
                f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
                '<row><c r="A1" t="inlineStr"><is><t>a</t></is></c>'
                '<c r="C1" t="inlineStr"><is><t>c</t></is></c></row>'
                '<row><c r="C2"><v>7</v></c></row>'
                "</sheetData></worksheet>",
            )
        header, rows = read_excel_rows(path)
        assert header == ["a", "col1", "c"]  # gap column auto-named
        assert rows == [[None, None, 7]]


class TestContract:
    def test_contract_validation(self, spark, tmp_path):
        good = str(tmp_path / "good.xlsx")
        write_excel_rows(good, ["company_name", "website"], [["A", "https://a.com"]])
        df = read_excel(spark, good)
        validate_companies_contract(df)  # no raise
        bad = str(tmp_path / "bad.xlsx")
        write_excel_rows(bad, ["company", "url"], [["A", "https://a.com"]])
        with pytest.raises(ValueError, match="company_name"):
            validate_companies_contract(read_excel(spark, bad))


class TestArrowIngest:
    """read_excel builds its frame from pandas through Arrow; the frame
    must be what the row-list ingest gave: ``_row_idx BIGINT`` then every
    column as nullable STRING, cells as ``str(v)``, blanks as null."""

    HEADER = ["name", "n", "ratio", "flag", "empty"]
    ROWS = [
        ["Acme & Söhne", 42, 2.5, True, None],
        ["新世界", -1, 0.125, False, None],
        [None, 7, None, None, None],
    ]

    @staticmethod
    def row_list_schema(header, with_row_idx=True):
        fields = [StructField("_row_idx", LongType(), True)] if with_row_idx else []
        return StructType(fields + [StructField(c, StringType(), True) for c in header])

    def test_header_only_sheet_gives_zero_rows(self, spark, tmp_path):
        path = str(tmp_path / "header_only.xlsx")
        write_excel_rows(path, ["company_name", "website"], [])
        df = read_excel(spark, path)
        assert df.schema == self.row_list_schema(["company_name", "website"])
        assert df.count() == 0

    def test_cells_keep_str_text_and_blanks_stay_null(self, spark, tmp_path):
        path = str(tmp_path / "mixed.xlsx")
        write_excel_rows(path, self.HEADER, self.ROWS)
        got = [list(r) for r in read_excel(spark, path).collect()]
        assert got == [
            [0, "Acme & Söhne", "42", "2.5", "True", None],
            [1, "新世界", "-1", "0.125", "False", None],
            [2, None, "7", None, None, None],
        ]

    def test_schema_equals_row_list_schema(self, spark, tmp_path):
        path = str(tmp_path / "mixed.xlsx")
        write_excel_rows(path, self.HEADER, self.ROWS)
        assert read_excel(spark, path).schema == self.row_list_schema(self.HEADER)
        plain = read_excel(spark, path, with_row_idx=False)
        assert plain.schema == self.row_list_schema(self.HEADER, with_row_idx=False)
        assert plain.collect()[0]["n"] == "42"


class TestEndToEndContract:
    def test_2in_14out_round_trip(self, spark, tmp_path):
        """The reference's whole lifecycle: companies.xlsx → enrich →
        output.xlsx, input order preserved (S1→pipeline→K1/T3)."""
        inp = str(tmp_path / "companies.xlsx")
        names = [f"Zeta {i} Corp" for i in range(12)]
        write_excel_rows(
            inp,
            ["company_name", "website"],
            [[n, f"https://zeta-{i}.example.com"] for i, n in enumerate(names)],
        )
        companies = read_excel(spark, inp)
        validate_companies_contract(companies)
        out_df = enrich_pipeline(spark, companies)

        outp = str(tmp_path / "output.xlsx")
        n = write_excel(out_df, outp, columns=OUTPUT_COLUMNS)
        assert n == 12
        header, rows = read_excel_rows(outp)
        assert header == OUTPUT_COLUMNS  # exact 14-column contract (K1/P1)
        assert [r[0] for r in rows] == names  # sheet order preserved (T3)
        assert all(r[1] for r in rows)  # Website column populated


class TestManyWorkbooks:
    """S1 at scale: executor-side parse of a workbook directory
    (binaryFile scan + mapInPandas) with a pinned column contract."""

    def test_heterogeneous_sheets_union_into_contract(self, spark, tmp_path):
        from leadsight_sales_agent_spark.sources.excel import read_excel_many

        # Three sheets with different shapes: canonical, reordered with
        # an extra column, and one missing `website` entirely.
        write_excel_rows(
            str(tmp_path / "a.xlsx"),
            ["company_name", "website"],
            [["Acme", "https://acme.test"], ["Bolt", "https://bolt.test"]],
        )
        write_excel_rows(
            str(tmp_path / "b.xlsx"),
            ["notes", "website", "company_name"],
            [["fast-growing", "https://carbon.test", "Carbon"]],
        )
        write_excel_rows(
            str(tmp_path / "c.xlsx"),
            ["company_name"],
            [["Dyno"], ["Ember"]],
        )

        df = read_excel_many(
            spark, str(tmp_path), ["company_name", "website"]
        )
        assert df.columns == ["src_file", "_row_idx", "company_name", "website"]
        rows = {
            (r["src_file"].rsplit("/", 1)[-1], r["_row_idx"]): (
                r["company_name"],
                r["website"],
            )
            for r in df.collect()
        }
        assert rows == {
            ("a.xlsx", 0): ("Acme", "https://acme.test"),
            ("a.xlsx", 1): ("Bolt", "https://bolt.test"),
            ("b.xlsx", 0): ("Carbon", "https://carbon.test"),
            ("c.xlsx", 0): ("Dyno", None),
            ("c.xlsx", 1): ("Ember", None),
        }

    def test_non_xlsx_files_are_ignored(self, spark, tmp_path):
        from leadsight_sales_agent_spark.sources.excel import read_excel_many

        write_excel_rows(
            str(tmp_path / "only.xlsx"), ["company_name", "website"], [["A", "w"]]
        )
        (tmp_path / "noise.csv").write_text("company_name,website\nX,Y\n")
        df = read_excel_many(spark, str(tmp_path), ["company_name", "website"])
        assert df.count() == 1

    def test_driver_parse_refuses_oversized_sheet(self, spark, tmp_path, monkeypatch):
        from leadsight_sales_agent_spark.sources import excel as excel_mod

        path = str(tmp_path / "big.xlsx")
        write_excel_rows(path, ["company_name", "website"], [["A", "w"]])
        monkeypatch.setattr(excel_mod, "MAX_DRIVER_XLSX_BYTES", 16)
        with pytest.raises(ValueError, match="read_excel_many"):
            excel_mod.read_excel(spark, path)
