import re

import duckdb
import pytest

import checks
import datagen
from leadsight_sales_agent_spark.operators.enrich import OUTPUT_COLUMNS, _mock_llm
from leadsight_sales_agent_spark.sources.excel import write_excel_rows


def _expected_row(name, site):
    """A row the pipeline could have written: Founded/Email/About taken
    from the company's own pages, LLM cells from the mock report."""
    text = checks.company_text(site)

    def first(pattern):
        m = re.search(pattern, text)
        return m.group(0).strip() if m else None

    founded = first(r"(?i)Founded (in )?(\d{4})") or first(r"(?i)Established (in )?(\d{4})")
    email = first(r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]+")
    about = first(r"(?i)[^.]*about us[^.]*")
    llm = checks.flatten_llm(_mock_llm(name, site, about or ""))
    return [name, site, founded, about, *llm, email]


@pytest.fixture()
def sheet(tmp_path):
    inputs = datagen.sheet_rows(1, 12, 0)
    rows = [_expected_row(n, s) for n, s in inputs]
    path = str(tmp_path / "out.xlsx")

    def write(rows=rows, header=OUTPUT_COLUMNS):
        write_excel_rows(path, list(header), rows)
        return path

    return inputs, rows, write


def test_correct_sheet_passes(sheet):
    inputs, rows, write = sheet
    assert any(r[2] for r in rows) and any(r[3] for r in rows) and any(r[13] for r in rows)
    assert checks.check_sheet(write(), inputs) == []


def test_changed_cell_fails(sheet):
    inputs, rows, write = sheet
    for col, value in [(1, "https://elsewhere.example.com"), (13, "someone@else.example.org")]:
        bad = [list(r) for r in rows]
        bad[3][col] = value
        assert checks.check_sheet(write(bad), inputs)


def test_dropped_row_fails(sheet):
    inputs, rows, write = sheet
    assert checks.check_sheet(write(rows[:5] + rows[6:]), inputs)


def test_reordered_rows_fail(sheet):
    inputs, rows, write = sheet
    assert checks.check_sheet(write([rows[1], rows[0]] + rows[2:]), inputs)


def test_wrong_llm_column_fails(sheet):
    inputs, rows, write = sheet
    i = next(i for i, r in enumerate(rows) if r[12] is not None)
    bad = [list(r) for r in rows]
    bad[i][12] = bad[i][12] + " Really."
    problems = checks.check_sheet(write(bad), inputs)
    assert problems and "executive_brief" in problems[0]


def test_wrong_header_fails(sheet):
    inputs, rows, write = sheet
    header = list(OUTPUT_COLUMNS)
    header[2], header[3] = header[3], header[2]
    assert checks.check_sheet(write(header=header), inputs)


def test_flatten_matches_get_json_object_shapes():
    raw = '{"a": {"x": [1, 2]}, "company_overview": {"n": "Q", "s": null}, "leadership": "CEO"}'
    cells = dict(zip(checks.LLM_KEYS, checks.flatten_llm(raw)))
    assert cells["company_overview"] == '{"n":"Q","s":null}'
    assert cells["leadership"] == "CEO"
    assert cells["business_model"] is None
    assert checks.flatten_llm(None) == [None] * 9
    assert checks.flatten_llm("{not valid json") == [None] * 9


def test_oracle_comparison():
    con = duckdb.connect()
    oracle = "SELECT * FROM (VALUES (1, 'x', 2.5::DOUBLE), (2, 'y', 3.0::DOUBLE)) t(k, s, v)"
    dtypes = {"k": "int", "s": "string", "v": "double"}
    rows = [(2, "y", 3.0), (1, "x", 2.5)]
    assert checks.compare_with_oracle(["k", "s", "v"], rows, dtypes, con.sql(oracle)) == []
    changed = [(2, "y", 3.0), (1, "x", 2.50001)]
    assert checks.compare_with_oracle(["k", "s", "v"], changed, dtypes, con.sql(oracle))
    assert checks.compare_with_oracle(["k", "s", "v"], rows[:1], dtypes, con.sql(oracle))
    assert checks.compare_with_oracle(["k", "s", "v"], rows, dict(dtypes, v="string"), con.sql(oracle))
