"""F6 urljoin fidelity (functions/urls.py vs urllib.parse.urljoin —
reference app.py:160) and T3 input-order preservation at the enrich
sink (reference app.py:290, 307-310)."""

from __future__ import annotations

from urllib.parse import urljoin

from pyspark.sql import functions as F

from leadsight_sales_agent_spark.functions.urls import (
    URLJOIN_CASES,
    resolve_links,
    urljoin_udf,
)
from leadsight_sales_agent_spark.operators.enrich import (
    companies_frame,
    enrich_pipeline,
)


class TestUrljoinFidelity:
    def test_matches_stdlib_on_adversarial_cases(self, spark):
        df = spark.createDataFrame(URLJOIN_CASES, "case_id INT, base STRING, href STRING")
        got = {
            r["case_id"]: r["resolved"]
            for r in df.select(
                "case_id", urljoin_udf(F.col("base"), F.col("href")).alias("resolved")
            ).collect()
        }
        for case_id, base, href in URLJOIN_CASES:
            assert got[case_id] == urljoin(base, href), (case_id, base, href)

    def test_split_path_resolver_matches_stdlib(self, spark):
        """resolve_links routes easy rows JVM-side and hard rows through
        the UDF; every row must still equal urllib.parse.urljoin."""
        rows = [(i, b, h) for i, b, h in URLJOIN_CASES]
        rows += [
            (101, "http://acme.com:8080/a/", "/root"),   # port kept (JVM path)
            (102, "acme.com", "/x"),                     # scheme-less base → hard path
            (103, "https://acme.com", "http://plain.org/y"),  # absolute http
            (104, "https://acme.com/q?x=1", "/z"),       # root-relative drops query
        ]
        df = spark.createDataFrame(rows, "case_id INT, website STRING, href STRING")
        got = {
            r["case_id"]: r["full_url_raw"]
            for r in resolve_links(df).collect()
        }
        for case_id, base, href in rows:
            assert got[case_id] == urljoin(base, href), (case_id, base, href)

    def test_null_and_empty_inputs_absorbed(self, spark):
        rows = [(1, None, "/x"), (2, "https://a.com", None), (3, None, None), (4, "", "/x")]
        df = spark.createDataFrame(rows, "case_id INT, base STRING, href STRING")
        got = {
            r["case_id"]: r["resolved"]
            for r in df.select(
                "case_id", urljoin_udf(F.col("base"), F.col("href")).alias("resolved")
            ).collect()
        }
        assert got[1] == "/x"      # no base → href passed through
        assert got[2] is None      # no href → null, never an error (U3)
        assert got[3] is None
        assert got[4] == "/x"


class TestInputOrderPreservation:
    def test_output_order_equals_input_order(self, spark, sf_dir):
        companies = companies_frame(spark, sf_dir)
        in_order = [r["company_name"] for r in companies.orderBy("_row_idx").collect()]
        out_order = [r["Company Name"] for r in enrich_pipeline(spark, companies).collect()]
        assert out_order == in_order  # T3: sink keeps sheet order

    def test_row_idx_not_in_output_contract(self, spark, sf_dir):
        out = enrich_pipeline(spark, companies_frame(spark, sf_dir))
        assert "_row_idx" not in out.columns


class TestCacheHygiene:
    def test_repeated_runs_do_not_accumulate_caches(self, spark, sf_dir):
        def persisted():
            return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

        before = persisted()  # other tests' frames share this session
        for _ in range(3):
            enrich_pipeline(spark, companies_frame(spark, sf_dir)).count()
        # the crawl runs once per row inside one plan; nothing is cached
        # for a later run to release
        assert persisted() == before
