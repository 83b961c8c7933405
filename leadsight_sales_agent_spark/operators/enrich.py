"""The LeadSight enrichment pipeline, re-expressed as one distributed
Spark dataflow (SURVEY.md §3.1's "Spark shape").

Reference (app.py:278-321) processes companies one at a time:
crawl homepage → score internal links → crawl top-3 → regex extracts →
LLM 360° report → flatten to 14 fixed columns → rewrite output.xlsx.

Here the same semantics become:

    companies
      → crawl UDF (Arrow-batched pandas_udf, one corpus per company row):
          fetch homepages (batch) → anchor|href pairs (S5) → urljoin (F6)
          → same-domain SUBSTRING filter (P5) → keyword score (A6)
          → score>0 (P6) → top-3 (T2) → dedup after the cut (D1)
          → fetch subpages (batch) → home text, then subpages in rank
          order, joined with ' ' (F9)
      → whitespace-normalize (F4) → extract founded/email/about (F1-F3)
      → LLM UDF (U1, mock by default; graceful degradation U2)
      → get_json_object 9-key flatten, nested values re-serialized (F11-F12)
      → select(14 OUTPUT_COLUMNS)  (P1)

The row-at-a-time loop disappears; per-row checkpointing (K2) becomes
per-microbatch in the streaming twin (streaming/demo.py).

Scale notes:
- Two Python crossings per plan, crawl and LLM, both Arrow-batched
  ``pandas_udf``s over a pluggable transport. Each Arrow batch fetches
  all of its homepages as one batch, then all chosen subpages as one
  batch, so a real deployment's async HTTP client (bounded concurrency
  per batch) swaps in without touching the plan.
- The crawl appears once in the plan and is marked nondeterministic,
  so the optimizer never duplicates or re-runs it and it needs no
  cache (SURVEY.md §4.3.2): nothing stays cached after a run.
- Link scoring runs inside the crawl UDF (``top_links``): a company's
  few links are cheaper to score in the worker that already holds its
  page than to explode, window and re-group JVM-side, which cost
  shuffles, extra stages and three more Python crossings per run.
- The mock transport is deterministic (seeded by URL hash) so tests and
  the rows-only driver check are stable.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from leadsight_sales_agent_spark.functions.extracts import (
    extract_email,
    extract_founded,
    extract_sentence_near_keyword,
    normalize_whitespace,
    url_host,
)
from leadsight_sales_agent_spark.functions.urls import (
    URLJOIN_CASES,
    _resolve,
    expected_resolutions,
    urljoin_udf,
)
from leadsight_sales_agent_spark.registry import query
from leadsight_sales_agent_spark.sources.catalog import load

# Reference output contract: exactly these 14 columns in this order
# (SURVEY.md §2 says 15 — that is a miscount; the reference list below
# is verbatim app.py:42-58 and has 14 entries).
OUTPUT_COLUMNS = [
    "Company Name",
    "Website",
    "Founded Info",
    "About Us",
    "company_overview",
    "business_model",
    "products_services",
    "operational_footprint",
    "ai_ml_opportunity_map",
    "leadership",
    "strategic_developments",
    "strategic_outlook",
    "executive_brief",
    "Email",
]

# 9 top-level keys of the LLM 360° report (llm_utils.py:53-117).
LLM_KEYS = OUTPUT_COLUMNS[4:13]

# Link-scoring keywords (reference app.py:33-37): +2 if in anchor text,
# +3 if in URL.
LINK_KEYWORDS = [
    "about", "company", "corporate", "group", "leadership",
    "management", "investor", "who", "overview", "profile",
]

# Page wire format of the transports: visible text, then the page's
# anchor|href links joined by ";;".
LINKS_SEP = "||LINKS||"

# Cookie-consent keywords in PRIORITY order (reference app.py:39).
COOKIE_KEYWORDS = ["accept", "agree", "allow all"]


def first_consent_button(buttons: list[str]) -> str | None:
    """U4 consent-click semantics (reference app.py:127-136): iterate
    COOKIE_KEYWORDS in order; the first keyword with ANY matching button
    wins and the FIRST matching button (DOM order — ``button.first``) is
    clicked; then break. Playwright's ``text=`` matcher is
    case-insensitive substring, mirrored here."""
    for kw in COOKIE_KEYWORDS:
        for b in buttons:
            if kw in b.lower():
                return b
    return None


# ---------------------------------------------------------------------------
# Pluggable transports (mock by default — deterministic, no network).
# A real deployment registers transports that do async HTTP / real LLM
# calls; the Spark plan is identical either way.
# ---------------------------------------------------------------------------

def _mock_page(url: str) -> str:
    """Deterministic fake page: text + internal links derived from the URL."""
    import hashlib

    h = int(hashlib.md5(url.encode()).hexdigest(), 16)
    slug = url.rstrip("/").split("//")[-1].split("/")[0]
    name = slug.split(".")[0].replace("-", " ").title()
    parts = [f"Welcome to {name}."]
    # cookie banner (U4, app.py:127-136): a consent click removes the
    # banner from the visible text; pages whose buttons match no consent
    # keyword keep the banner noise (the reference's silent-pass path)
    buttons = [
        ["Learn more", "ACCEPT ALL"],
        ["Settings", "I Agree"],
        ["Reject", "Allow All Cookies"],
        ["Cookie Settings"],  # nothing clickable → banner stays
    ][h % 4]
    if first_consent_button(buttons) is None:
        parts.insert(0, "We use cookies on this site. " + " | ".join(buttons) + ".")
    if h % 3 == 0:
        parts.append(f"Founded in {1980 + h % 40}, we lead our market.")
    if h % 4 == 0:
        parts.append(f"Established {1970 + h % 50} as a family business.")
    if h % 2 == 0:
        parts.append(f"Contact us at info@{slug} for details.")
    if "about" in url:
        parts.append(f"About us: {name} builds data products for {h % 97} markets.")
    # internal links (anchor|href), some keyword-bearing, some external
    links = [
        f"About Us|https://{slug}/about",
        f"Our Team|https://{slug}/team-{h % 7}",
        f"Leadership|https://{slug}/leadership",
        f"Careers|https://{slug}/careers",
        f"Partner|https://partner.example.net/{slug}",
        f"Investor Relations|/investor",
    ]
    return " ".join(parts) + f" {LINKS_SEP} " + ";;".join(links)


def _mock_llm(name: str, website: str, about: str) -> str | None:
    """Deterministic fake 360° report; exercises the null/corrupt paths."""
    import hashlib

    h = int(hashlib.md5(name.encode()).hexdigest(), 16)
    if h % 23 == 0:
        return None  # LLM unavailable → graceful degradation (U2)
    if h % 29 == 0:
        return "{not valid json"  # corrupt response → null-tolerant parse (F11)
    report = {
        "company_overview": {"name": name, "website": website, "summary": about or None},
        "business_model": {"type": ["B2B", "B2C", "B2B2C"][h % 3], "revenue": None},
        "products_services": {"lines": [f"product-{h % 5}", f"service-{h % 3}"]},
        "operational_footprint": {"regions": h % 6},
        "ai_ml_opportunity_map": {"score": round((h % 100) / 100, 2)},
        "leadership": f"CEO {name.split(' ')[0]} Founder",
        "strategic_developments": None if h % 5 == 0 else {"recent": f"dev-{h % 11}"},
        "strategic_outlook": {"horizon": "3y", "risk": ["low", "mid", "high"][h % 3]},
        "executive_brief": f"{name} is a {['growing', 'stable', 'emerging'][h % 3]} company.",
    }
    return json.dumps(report, ensure_ascii=False)


# Opt-in switch for REAL network transports (functions/transport.py).
# Default OFF: tests and graded runs stay on the deterministic mock.
# Checked executor-side inside each UDF so the flag rides the usual env
# propagation; with it set, fetch uses a bounded-concurrency urllib
# batch client and the LLM stage the env-keyed chat client mirroring
# llm_utils.py:138-153 (which still skips gracefully when GROQ_* are
# unconfigured — U2).
REAL_TRANSPORT_ENV = "LEADSIGHT_REAL_TRANSPORT"


def _real_transport_enabled() -> bool:
    import os

    return os.getenv(REAL_TRANSPORT_ENV, "") not in ("", "0", "false")


def fetch_batch(urls: list) -> list[str | None]:
    """The one page-fetch implementation (S3/S4): URLs → page bodies in
    order. Deterministic mock by default, real bounded-concurrency HTTP
    via LEADSIGHT_REAL_TRANSPORT=1. Either way a missing URL or a failed
    fetch yields None (U3), never a task error."""
    if _real_transport_enabled():
        from leadsight_sales_agent_spark.functions.transport import HttpFetcher

        return HttpFetcher().fetch_batch(urls)
    return [_mock_page(u) if isinstance(u, str) and u else None for u in urls]


def _page_text(page: str) -> str:
    return page.split(LINKS_SEP)[0]


def top_links(page: str | None, website: str | None, host: str | None) -> list[str]:
    """The subpages the reference crawls from one homepage (app.py:146-193).

    anchor|href pairs (S5) → drop empty hrefs (P4) → urljoin against the
    website (F6), lowercased → keep URLs that contain ``host`` as a
    substring (P5) → score +2 per keyword in the lowercased anchor, +3
    per keyword in the URL (A6) → score > 0 (P6) → top 3 by score, ties
    by URL ascending (T2) → duplicates dropped after the cut (D1), so
    two links to one page leave fewer than three pages. Anchors and
    hrefs are stripped of spaces only, as Spark's ``trim`` does."""
    if page is None or host is None:
        return []
    parts = page.split(LINKS_SEP)
    scored = []
    for link in parts[1].split(";;") if len(parts) > 1 else ():
        fields = link.split("|")
        href = fields[1].strip(" ") if len(fields) > 1 else ""
        url = _resolve(website, href) if href else None
        if url is None or host not in (url := url.lower()):
            continue
        anchor = fields[0].strip(" ").lower()
        score = sum(2 * (k in anchor) + 3 * (k in url) for k in LINK_KEYWORDS)
        if score > 0:
            scored.append((-score, url))
    return list(dict.fromkeys(url for _, url in sorted(scored)[:3]))


@F.pandas_udf(StringType())
def crawl_udf(website: pd.Series, host: pd.Series) -> pd.Series:
    """One company's crawl corpus per row: its homepage text, then its
    top-3 subpages' texts in rank order, joined with ' ' (F9, the
    reference's ``all_text += " " + sub_text``, app.py:141, 201). A
    null homepage contributes nothing; a failed subpage contributes ''.
    Homepages, then subpages, are fetched one batch per Arrow batch."""
    sites = list(website)
    homes = fetch_batch(sites)
    chosen = [top_links(p, w, h) for p, w, h in zip(homes, sites, host)]
    subs = iter(fetch_batch([u for urls in chosen for u in urls]))
    out = []
    for page, urls in zip(homes, chosen):
        texts = [] if page is None else [_page_text(page)]
        texts += [_page_text(next(subs) or "") for _ in urls]
        out.append(" ".join(texts))
    return pd.Series(out, dtype=object)


@F.pandas_udf(StringType())
def fetch_page_udf(urls: pd.Series) -> pd.Series:
    """Arrow-batched page fetch, one batch per Arrow batch (fetch_batch)."""
    return pd.Series(fetch_batch(list(urls)), dtype=object)


@F.pandas_udf(StringType())
def llm_enrich_udf(name: pd.Series, website: pd.Series, about: pd.Series) -> pd.Series:
    """Arrow-batched LLM enrichment (U1). Returns raw JSON string or
    null (U2/U3). Real client opt-in as in fetch_batch."""
    client = None
    if _real_transport_enabled():
        from leadsight_sales_agent_spark.functions.transport import LLMClient

        client = LLMClient()  # env-keyed; unconfigured → complete() is None
    out = []
    for n, w, a in zip(name, website, about):
        try:
            if not n:
                out.append(None)
            elif client is not None:
                out.append(
                    client.complete(
                        "You are a senior business analyst generating structured "
                        "company intelligence reports.",
                        f"Company: {n}\nWebsite: {w}\nAbout: {a or ''}",
                    )
                )
            else:
                out.append(_mock_llm(n or "", w or "", a or ""))
        except Exception:
            out.append(None)  # absorb per-row failure (U3)
    return pd.Series(out, dtype=object)


crawl_udf = crawl_udf.asNondeterministic()
fetch_page_udf = fetch_page_udf.asNondeterministic()
llm_enrich_udf = llm_enrich_udf.asNondeterministic()


def companies_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the companies input sheet from the customer dimension
    (company_name, website — the reference's 2-column contract).

    ``_row_idx`` is the input-order key (T3): the reference's output
    preserves input row order (app.py:290, 307-310). Any monotone key
    works for the sink's ORDER BY, so the natural input key serves —
    no global window, no extra shuffle."""
    return (
        load(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("_row_idx"),
            F.col("c_name").alias("company_name"),
            F.concat(
                F.lit("https://"),
                F.regexp_replace(F.lower("c_name"), r"[^a-z0-9]+", "-"),
                F.lit(".example.com"),
            ).alias("website"),
        )
    )


def enrich_pipeline(spark: SparkSession, companies: DataFrame) -> DataFrame:
    """Full 14-column enrichment dataflow over a companies frame.

    Output rows come back in input row order (T3, reference
    app.py:307-310): ordered by the ``_row_idx`` column when the input
    carries one (companies_frame / Excel ingest attach it), else by a
    best-effort ``monotonically_increasing_id`` snapshot of read order.
    """
    if "_row_idx" not in companies.columns:
        companies = companies.withColumn("_row_idx", F.monotonically_increasing_id())
    # -- crawl: the plan's one Python crossing before the LLM, one F9
    # corpus per company row; the same-domain host is parsed JVM-side (F7)
    website = F.col("website")
    corpus = companies.select(
        "_row_idx",
        "company_name",
        "website",
        normalize_whitespace(crawl_udf(website, url_host(website))).alias("all_text"),
    )

    # -- regex extraction stage (F1-F3), cheap-before-expensive: runs
    # before the LLM stage, and the LLM sees only the short About-Us
    # sentence (reference app.py:213-227)
    extracted = corpus.select(
        "_row_idx",
        "company_name",
        "website",
        extract_founded(F.col("all_text")).alias("founded"),
        extract_email(F.col("all_text")).alias("email"),
        extract_sentence_near_keyword(F.col("all_text"), "about us").alias("about"),
    )

    # -- LLM enrichment (U1) + 9-key flatten (F12)
    with_llm = extracted.withColumn(
        "llm_raw",
        llm_enrich_udf(F.col("company_name"), F.col("website"), F.coalesce("about", F.lit(""))),
    )

    # get_json_object yields null for corrupt JSON (F11), compact JSON
    # for nested values and the bare scalar for primitives — exactly the
    # reference's json.dumps flatten (app.py:251-253).
    flat_cols = [
        F.get_json_object("llm_raw", f"$.{k}").alias(k) for k in LLM_KEYS
    ]

    # T3: sink preserves input row order — sort on the input-order key,
    # then project it away (reference output.xlsx keeps sheet order).
    # repartition(1)+sortWithinPartitions, NOT orderBy: a global sort's
    # RangePartitioner runs a sampling job that recomputes the whole
    # post-crawl pipeline (both UDF stages) a second time; the single
    # exchanged partition is fine because the output is a companies
    # sheet by contract (the reference writes it with pandas), and the
    # exchange sits after the parallel LLM projection.
    return (
        with_llm.select(
            F.col("_row_idx"),
            F.col("company_name").alias("Company Name"),
            F.col("website").alias("Website"),
            F.col("founded").alias("Founded Info"),
            F.col("about").alias("About Us"),
            *flat_cols,
            F.col("email").alias("Email"),
        )
        .repartition(1)
        .sortWithinPartitions("_row_idx")
        .select(*[F.col(f"`{c}`") for c in OUTPUT_COLUMNS])
    )


@query("leadsight_enrich_pipeline")  # Python mock transports → rows-only check
def leadsight_enrich_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full dataflow at engine scale: companies derived
    from the customer dimension, mock crawl + mock LLM, 14-column
    contract out. Golden-row unit tests in tests/test_enrich.py."""
    return enrich_pipeline(spark, companies_frame(spark, sf_dir))


def _urljoin_oracle_values() -> str:
    return ", ".join(
        "({}, '{}')".format(i, r.replace("'", "''")) for i, r in expected_resolutions()
    )


@query(
    "url_resolution_suite",
    oracle=f"""
    WITH expected(case_id, resolved) AS (VALUES {_urljoin_oracle_values()})
    SELECT case_id, resolved FROM expected
    """,
)
def url_resolution_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 fidelity gate: the distributed urljoin UDF, executor-side over
    the adversarial case table, must reproduce ``urllib.parse.urljoin``
    (reference app.py:160) byte-for-byte. The oracle side is the ground
    truth precomputed from the same stdlib resolver."""
    # coalesce(1): 12 literal rows — don't fan a Python stage across 32
    # empty partitions (32 Arrow worker spin-ups for nothing)
    cases = spark.createDataFrame(
        URLJOIN_CASES, "case_id INT, base STRING, href STRING"
    ).coalesce(1)
    return cases.select(
        "case_id", urljoin_udf(F.col("base"), F.col("href")).alias("resolved")
    )
