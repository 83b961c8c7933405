"""Output checks. They run outside every timed span.

Engine queries are compared with their DuckDB oracle over
the same generated tables, with the oracle gate's own normalization
(``tools/check_oracle.py``). Enrich output sheets are read back and
compared cell by cell with what the mock transports imply for each
input row. Each function returns a list of problems; empty means ok.
"""

from __future__ import annotations

import json
import os
import re
import sys
from urllib.parse import urljoin

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from check_oracle import normalize, type_class  # noqa: E402

from leadsight_sales_agent_spark.operators.enrich import (  # noqa: E402
    LLM_KEYS,
    OUTPUT_COLUMNS,
    _mock_llm,
    _mock_page,
)
from leadsight_sales_agent_spark.sources.excel import read_excel_rows  # noqa: E402

LINKS_SEP = "||LINKS||"


# -- engine queries -------------------------------------------------------------

def read_parquet_dir(con, path: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    return list(rel.columns), rel.fetchall()


def compare_with_oracle(cols, rows, spark_dtypes: dict, oracle_rel) -> list[str]:
    """Row count, column names, type classes and the normalized value
    multiset, as the oracle gate compares them."""
    ocols = list(oracle_rel.columns)
    otypes = [str(t) for t in oracle_rel.types]
    orows = oracle_rel.fetchall()
    problems = []
    if len(rows) != len(orows):
        problems.append(f"rowcount spark={len(rows)} duckdb={len(orows)}")
    if sorted(cols) != sorted(ocols):
        return problems + [f"columns spark={sorted(cols)} duckdb={sorted(ocols)}"]
    for c, t in zip(ocols, otypes):
        sc, dc = type_class(spark_dtypes[c], t)
        if sc != dc:
            problems.append(f"type-class {c}: spark {spark_dtypes[c]} vs duckdb {t}")
    if not problems:
        sn, on = normalize(rows, cols), normalize(orows, ocols)
        if sn != on:
            diffs = [(a, b) for a, b in zip(sn, on) if a != b][:2]
            problems.append(f"values differ, e.g. {diffs}")
    return problems


# -- enrich ------------------------------------------------------------------

def flatten_llm(raw: str | None) -> list[str | None]:
    """The nine LLM cells the pipeline's get_json_object flatten yields."""
    try:
        report = json.loads(raw) if raw is not None else None
    except ValueError:
        report = None
    if not isinstance(report, dict):
        return [None] * len(LLM_KEYS)
    out: list[str | None] = []
    for k in LLM_KEYS:
        v = report.get(k)
        if v is None:
            out.append(None)
        elif isinstance(v, (dict, list)):
            out.append(json.dumps(v, separators=(",", ":"), ensure_ascii=False))
        else:
            out.append(v if isinstance(v, str) else json.dumps(v))
    return out


def page_text(url: str) -> tuple[str, list[str]]:
    text, _, links = _mock_page(url).partition(LINKS_SEP)
    hrefs = [link.split("|")[1].strip() for link in links.strip().split(";;") if "|" in link]
    return text, hrefs


def company_text(website: str) -> str:
    """Whitespace-normalized text of a company's homepage and every page
    it links to (a superset of the pages the pipeline reads)."""
    home, hrefs = page_text(website)
    texts = [home] + [page_text(urljoin(website, h).lower())[0] for h in hrefs]
    return re.sub(r"\s+", " ", " ".join(texts))


def check_sheet(path: str, inputs: list[list[str]]) -> list[str]:
    """An output sheet must hold the 14 output columns in order and one
    row per input row in sheet order, with name and website passed
    through, LLM columns equal to the flattened mock report of the
    row's own name, website and About Us, and Founded/Email/About Us
    (when set) taken from the company's own pages."""
    header, rows = read_excel_rows(path)
    if header != OUTPUT_COLUMNS:
        return [f"header {header} != {OUTPUT_COLUMNS}"]
    if len(rows) != len(inputs):
        return [f"{len(rows)} output rows for {len(inputs)} input rows"]
    problems = []
    for i, (row, (name, site)) in enumerate(zip(rows, inputs)):
        cells = dict(zip(OUTPUT_COLUMNS, row))
        if cells["Company Name"] != name or cells["Website"] != site:
            problems.append(f"row {i}: {cells['Company Name']!r} where {name!r} was uploaded")
            continue
        about = cells["About Us"]
        want = flatten_llm(_mock_llm(name, site, about or ""))
        got = [cells[k] for k in LLM_KEYS]
        if got != want:
            bad = [k for k, g, w in zip(LLM_KEYS, got, want) if g != w]
            problems.append(f"row {i} ({name}): LLM columns {bad} differ")
        text = None
        for col in ("Founded Info", "Email", "About Us"):
            if cells[col] is not None:
                text = text if text is not None else company_text(site)
                if cells[col] not in text:
                    problems.append(f"row {i} ({name}): {col} {cells[col]!r} not on its pages")
        if len(problems) >= 5:
            break
    return problems
