#!/usr/bin/env python3
"""Closed-loop benchmark of the engine: one client, one operation at a time.

    python3 leadbench/run.py --workload {enrich,engine} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Each run generates its inputs from the
seed, sets the engine up, runs one cold pass (whose outputs are checked
afterwards, outside every timed span), then warm passes for ``S``
seconds. With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics, taken
from traced passes that alternate with untraced ones. See METRICS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import hygiene  # noqa: E402
import sparkstats  # noqa: E402
import stats  # noqa: E402

PKG = "leadsight_sales_agent_spark"

# The engine workload: short scan -> exchange -> aggregate/join sales
# queries, then map-heavy corpus-curation queries.
ANALYTICS = [
    "flagship_revenue_by_segment_month",
    "agg_count_distinct_customers",
    "tpch_q9_product_type_profit",
]
CORPUS = [
    "dedup_cdc_chunking",
    "text_repetition_signals",
    "sample_dsir_importance",
]
WORKLOADS = ("enrich", "engine")
SETUPS = 5
MIN_WARM_PASSES = 2
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_overhead_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.busy_cores": "cores",
    "spark.single_task_stage_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "catalog.scan_s": "s",
    "catalog.scan_tasks": "count",
    "excel.read_s": "s",
    "excel.write_s": "s",
    "enrich.fetch_s": "s",
    "enrich.urljoin_s": "s",
    "enrich.extract_s": "s",
    "enrich.llm_s": "s",
    "enrich.python_nodes": "count",
    "enrich.one_row_s": "s",
    "host.steal_s": "s",
    "host.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def _purge_package() -> None:
    for name in list(sys.modules):
        if name == PKG or name.startswith(PKG + "."):
            del sys.modules[name]


def set_up(cpus: int):
    """get_spark + registry.load_all, SETUPS times in this process; the
    later set-ups stop the session, drop the package's modules and
    start again (the JVM stays up). Returns the last session."""
    spark, runs = None, []
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
            _purge_package()
        t0 = time.perf_counter()
        from leadsight_sales_agent_spark.session import get_spark

        spark = get_spark("leadbench", cpus=cpus)
        t1 = time.perf_counter()
        from leadsight_sales_agent_spark import registry

        registry.load_all()
        t2 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        runs.append({"session_s": t1 - t0, "load_s": t2 - t1, "total_s": t2 - t0})
    return spark, runs


class Op:
    """One operation's timings (seconds) and, when traced, its record."""

    def __init__(self, name: str, pass_no: int, kind: str):
        self.name, self.pass_no, self.kind = name, pass_no, kind
        self.build_s = self.action_s = self.latency_s = 0.0
        self.record: dict | None = None
        self.build_jobs = 0
        self.trace_read_s = 0.0
        self.problems: list[str] = []
        self.start = self.end = 0.0


class Bench:
    def __init__(self, args, spark, work: str, data_dir: str):
        self.args, self.spark, self.work = args, spark, work
        self.data_dir = data_dir
        self.ops: list[Op] = []
        self.passes: list[dict] = []
        self.job_overhead: list[float] = []
        self.out_dir = os.path.join(work, "out")
        os.makedirs(self.out_dir, exist_ok=True)
        self._group = 0
        from leadsight_sales_agent_spark import registry

        self.registry = registry
        if args.workload == "enrich":
            self.cold_names = self.names = [name for name, _ in datagen.pass_sheets(0, 0)]
        else:
            # The first query of a process absorbs most of the JVM's
            # first-run cost, so the cold pass keeps one fixed order and
            # only the warm passes take the seed's order.
            self.cold_names = ANALYTICS + CORPUS
            self.names = datagen.query_order(args.seed, self.cold_names)
        self.cold_dtypes: dict[str, dict] = {}

    # -- one operation -------------------------------------------------------
    def _traced(self, op: Op, traced: bool):
        if traced:
            self._group += 1
            group = f"leadbench-{op.pass_no}-{self._group}-{op.name}"
            self.spark.sparkContext.setJobGroup(group, op.name)
            return group
        return None

    def _finish(self, op: Op, group) -> None:
        if group is None:
            return
        t = time.perf_counter()
        op.record = sparkstats.op_record(self.spark, group)
        op.record["build_jobs"] = op.build_jobs
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        op.trace_read_s = time.perf_counter() - t

    def run_query(self, name: str, pass_no: int, cold: bool, traced: bool) -> Op:
        op = Op(name, pass_no, "query")
        group = self._traced(op, traced)
        op.start = time.time()
        t0 = time.perf_counter()
        df = self.registry.QUERIES[name](self.spark, self.data_dir)
        t1 = time.perf_counter()
        op.build_jobs = len(sparkstats.group_jobs(self.spark, group)) if group else 0
        t1b = time.perf_counter()
        if cold:
            df.write.mode("overwrite").parquet(os.path.join(self.out_dir, name))
        else:
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        op.end = time.time()
        op.build_s, op.action_s = t1 - t0, t2 - t1b
        op.latency_s = op.build_s + op.action_s
        if cold:
            self.cold_dtypes[name] = dict(df.dtypes)
        self.spark.catalog.clearCache()
        self._finish(op, group)
        return op

    def upload(self, name: str, rows, pass_no: int, traced: bool) -> Op:
        from leadsight_sales_agent_spark.operators.enrich import OUTPUT_COLUMNS, enrich_pipeline
        from leadsight_sales_agent_spark.sources.excel import (
            read_excel,
            validate_companies_contract,
            write_excel,
            write_excel_rows,
        )

        op = Op(name, pass_no, "upload")
        src = os.path.join(self.work, "in", f"{name}-{pass_no}.xlsx")
        dst = os.path.join(self.out_dir, f"{name}.xlsx")
        if not os.path.exists(src):
            write_excel_rows(src, ["company_name", "website"], rows)
        group = self._traced(op, traced)
        op.start = time.time()
        t0 = time.perf_counter()
        companies = read_excel(self.spark, src)
        validate_companies_contract(companies)
        out = enrich_pipeline(self.spark, companies)
        t1 = time.perf_counter()
        op.build_jobs = len(sparkstats.group_jobs(self.spark, group)) if group else 0
        t1b = time.perf_counter()
        write_excel(out, dst, OUTPUT_COLUMNS)
        t2 = time.perf_counter()
        op.end = time.time()
        op.build_s, op.action_s = t1 - t0, t2 - t1b
        op.latency_s = op.build_s + op.action_s
        self._finish(op, group)
        # untimed output check of every upload
        import checks

        op.problems = checks.check_sheet(dst, rows)
        return op

    def run_op(self, name: str, pass_no: int, cold: bool, traced: bool) -> Op:
        try:
            if self.args.workload == "enrich":
                rows = dict(datagen.pass_sheets(self.args.seed, pass_no))[name]
                op = self.upload(name, rows, pass_no, traced)
            else:
                op = self.run_query(name, pass_no, cold, traced)
        except Exception as ex:  # noqa: BLE001 — an operation that raises has failed
            op = Op(name, pass_no, "error")
            op.problems = [f"{type(ex).__name__}: {str(ex)[:300]}"]
        self.ops.append(op)
        return op

    # -- passes --------------------------------------------------------------
    def run_pass(self, pass_no: int, cold: bool, traced: bool, deadline: float | None) -> dict:
        ops = []
        for name in self.cold_names if cold else self.names:
            ops.append(self.run_op(name, pass_no, cold, traced))
            if deadline is not None and time.perf_counter() >= deadline:
                break
        p = {
            "pass": pass_no,
            "cold": cold,
            "traced": traced,
            "complete": len(ops) == len(self.names),
            "ops": ops,
            "time_s": sum(o.latency_s for o in ops),
            "time_with_trace_s": sum(o.latency_s + o.trace_read_s for o in ops),
        }
        self.passes.append(p)
        return p

    def probe_job_overhead(self, n: int = 3) -> None:
        for _ in range(n):
            t = time.perf_counter()
            self.spark.range(1).count()
            self.job_overhead.append(time.perf_counter() - t)

    def run(self) -> None:
        self.run_pass(0, cold=True, traced=False, deadline=None)
        deadline = time.perf_counter() + self.args.seconds
        pass_no = 1
        if not self.args.trace:
            # stop after the operation that crosses the deadline, but
            # only once MIN_WARM_PASSES whole warm passes are in
            while True:
                done = sum(p["complete"] for p in self.passes[1:]) >= MIN_WARM_PASSES
                self.run_pass(pass_no, False, False, deadline if done else None)
                pass_no += 1
                done = sum(p["complete"] for p in self.passes[1:]) >= MIN_WARM_PASSES
                if done and time.perf_counter() >= deadline:
                    break
        else:
            # untraced/traced pairs in ABBA order (U T, T U, ...), so a
            # warm-up slope shared by both legs cancels in the paired
            # difference; at least MIN_WARM_PASSES pairs
            pairs = 0
            while True:
                self.probe_job_overhead()
                for traced in (False, True) if pairs % 2 == 0 else (True, False):
                    self.run_pass(pass_no, False, traced, None)
                    pass_no += 1
                pairs += 1
                if pairs >= MIN_WARM_PASSES and time.perf_counter() >= deadline:
                    break

    # -- checks (untimed) ----------------------------------------------------
    def check_cold_outputs(self) -> None:
        if self.args.workload == "enrich":
            return  # every upload is checked right after it
        import duckdb

        import checks

        con = duckdb.connect()
        for t in datagen.WORKLOAD_TABLES[self.args.workload]:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'"
            )
        for op in self.passes[0]["ops"]:
            if op.kind != "query":
                continue
            try:
                cols, rows = checks.read_parquet_dir(con, os.path.join(self.out_dir, op.name))
                oracle = con.sql(self.registry.ORACLES[op.name])
                op.problems = checks.compare_with_oracle(
                    cols, rows, self.cold_dtypes[op.name], oracle
                )
            except Exception as ex:  # noqa: BLE001
                op.problems = [f"check error {type(ex).__name__}: {str(ex)[:300]}"]
        con.close()

    # -- isolated layer calls (traced runs) ---------------------------------
    def _timed_noop(self, df) -> tuple[float, dict]:
        self._group += 1
        group = f"leadbench-probe-{self._group}"
        self.spark.sparkContext.setJobGroup(group, "probe")
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        took = time.perf_counter() - t
        rec = sparkstats.op_record(self.spark, group)
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return took, rec

    def layer_probes(self) -> dict:
        """Each layer's public functions, timed alone on this workload's
        inputs (enrich: the first pass's sheets; engine: its catalog
        tables and one small sheet)."""
        from pyspark.sql import functions as F

        import checks
        from leadsight_sales_agent_spark.functions.extracts import (
            extract_email,
            extract_founded,
            extract_sentence_near_keyword,
        )
        from leadsight_sales_agent_spark.functions.urls import urljoin_udf
        from leadsight_sales_agent_spark.operators.enrich import (
            enrich_pipeline,
            fetch_page_udf,
            llm_enrich_udf,
        )
        from leadsight_sales_agent_spark.sources import catalog
        from leadsight_sales_agent_spark.sources.excel import (
            read_excel,
            read_excel_rows,
            validate_companies_contract,
            write_excel_rows,
        )

        out: dict[str, float] = {}
        scan_s = scan_tasks = 0.0
        for t in datagen.WORKLOAD_TABLES[self.args.workload]:
            took, rec = self._timed_noop(catalog.load(self.spark, self.data_dir, t))
            scan_s += took
            scan_tasks += rec["tasks"]
        out["catalog.scan_s"], out["catalog.scan_tasks"] = scan_s, scan_tasks

        enrich = self.args.workload == "enrich"
        sheets = datagen.pass_sheets(self.args.seed, 0)
        if not enrich:  # produce one output sheet to read back and rewrite
            sheets = sheets[:1]
            self.ops.append(self.upload(sheets[0][0], sheets[0][1], 0, traced=False))
        read_s = write_s = 0.0
        for name, _ in sheets:
            t = time.perf_counter()
            validate_companies_contract(read_excel(self.spark, os.path.join(self.work, "in", f"{name}-0.xlsx")))
            read_s += time.perf_counter() - t
            header, rows = read_excel_rows(os.path.join(self.out_dir, f"{name}.xlsx"))
            t = time.perf_counter()
            write_excel_rows(os.path.join(self.work, "tmp", "probe.xlsx"), header, rows)
            write_s += time.perf_counter() - t
        out["excel.read_s"], out["excel.write_s"] = read_s, write_s

        name, rows = sheets[-1]  # the bulk sheet for enrich
        companies = self.spark.createDataFrame(rows, "company_name STRING, website STRING")
        links = [(site, href) for _, site in rows for href in checks.page_text(site)[1]]
        texts = [(checks.page_text(site)[0],) for _, site in rows]
        out["enrich.fetch_s"] = self._timed_noop(
            companies.select(fetch_page_udf(F.col("website")))
        )[0]
        out["enrich.urljoin_s"] = self._timed_noop(
            self.spark.createDataFrame(links, "website STRING, href STRING").select(
                urljoin_udf(F.col("website"), F.col("href"))
            )
        )[0]
        text = F.col("text")
        out["enrich.extract_s"] = self._timed_noop(
            self.spark.createDataFrame(texts, "text STRING").select(
                extract_founded(text), extract_email(text),
                extract_sentence_near_keyword(text, "about us"),
            )
        )[0]
        out["enrich.llm_s"] = self._timed_noop(
            companies.select(llm_enrich_udf(F.col("company_name"), F.col("website"), F.lit("")))
        )[0]
        plan = enrich_pipeline(self.spark, companies)._jdf.queryExecution().executedPlan().toString()
        out["enrich.python_nodes"] = plan.count("ArrowEvalPython")

        one = rows[:1]
        times = []
        for _ in range(3):
            op = self.upload("one", one, -1, traced=False)
            self.ops.append(op)
            times.append(op.latency_s)
        out["enrich.one_row_s"] = statistics.median(times)
        return out


def e2e_metrics(bench: Bench, setups) -> tuple[dict, dict]:
    warm = [p for p in bench.passes[1:] if not p["traced"]]
    # Only the first MIN_WARM_PASSES whole warm passes count: a faster
    # run that gets further would otherwise sit further down the warm-up
    # slope and report it as a speed-up.
    complete = [p for p in warm if p["complete"]][:MIN_WARM_PASSES]
    ops = [o for p in complete for o in p["ops"] if o.kind != "error"]
    per_op: dict[str, list[float]] = {}
    for o in ops:
        per_op.setdefault(o.name, []).append(o.latency_s)
    if bench.args.workload == "enrich":
        pooled = [o.latency_s for o in ops if o.name == "small"]
    else:
        pooled = [o.latency_s for o in ops]
    tail_v, tail_label = stats.tail(pooled)
    metrics = {
        "setup_s": (statistics.median(s["total_s"] for s in setups), "s"),
        "cold_pass_s": (bench.passes[0]["time_s"], "s"),
        "pass_s": (statistics.median(p["time_s"] for p in complete), "s"),
        "query_geomean_s": (stats.geomean(statistics.median(v) for v in per_op.values()), "s"),
    }
    detail = {
        "samples": {
            "setup_s": len(setups),
            "cold_pass_s": 1,
            "pass_s": len(complete),
            "query_geomean_s": {k: len(v) for k, v in per_op.items()},
            "op_p50_s": len(pooled),
        },
        "op_p50_s": statistics.median(pooled),
        "op_tail_s": tail_v,
        "op_tail_percentile": tail_label,
        "first_setup_s": setups[0]["total_s"],
        "op_median_s": {k: statistics.median(v) for k, v in per_op.items()},
        "cold_op_s": {o.name: o.latency_s for o in bench.passes[0]["ops"]},
        "warm_pass_s": [p["time_s"] for p in warm],
    }
    if bench.args.workload == "enrich":
        bulk = [o for o in ops if o.name == "bulk"]
        if bulk:
            detail["bulk_companies_per_s"] = (
                datagen.BULK_SHEET_ROWS * len(bulk) / sum(o.latency_s for o in bulk)
            )
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, detail


def layer_metrics(bench: Bench, setups, probes: dict, host: dict, rss: float) -> dict:
    traced = [p for p in bench.passes if p["traced"]]
    untraced = [p for p in bench.passes[1:] if not p["traced"]]
    per_pass = []
    for p in traced:
        recs = [o.record for o in p["ops"] if o.record]
        row = {k: sum(r[k] for r in recs) for k in sparkstats.COUNTERS}
        row["build_s"] = sum(o.build_s for o in p["ops"])
        row["build_jobs"] = sum(r["build_jobs"] for r in recs)
        action_s = sum(o.action_s for o in p["ops"])
        row["busy_cores"] = row["executor_run_s"] / action_s if action_s else 0.0
        per_pass.append(row)

    def med(key):
        return statistics.median(r[key] for r in per_pass)

    values = {
        "session.start_s": statistics.median(s["session_s"] for s in setups),
        "registry.load_s": statistics.median(s["load_s"] for s in setups),
        "registry.build_s": med("build_s"),
        "registry.build_jobs": med("build_jobs"),
        "spark.job_overhead_s": statistics.median(bench.job_overhead),
        "spark.busy_cores": med("busy_cores"),
        "host.steal_s": host["steal_s"],
        "host.peak_rss_mb": rss,
        "trace.overhead_s": stats.paired_overhead(
            [p["time_with_trace_s"] for p in untraced],
            [p["time_with_trace_s"] for p in traced],
        ),
    }
    for k in sparkstats.COUNTERS:
        values[f"spark.{k}"] = med(k)
    values.update(probes)
    return {k: {"value": values[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}


def write_trace(bench: Bench, path: str) -> None:
    """Spans operation -> build/action -> job -> stage of the traced
    passes, with each layer's self time (its span minus its children)."""
    spans = []
    for p in bench.passes:
        if not p["traced"]:
            continue
        for o in p["ops"]:
            if not o.record:
                continue
            jobs = [s for s in o.record["spans"] if s["kind"] == "job"]
            stages = [s for s in o.record["spans"] if s["kind"] == "stage"]
            job_s = sum((s["end"] or 0) - (s["start"] or 0) for s in jobs)
            stage_s = sum((s["end"] or 0) - (s["start"] or 0) for s in stages)
            spans.append(
                {
                    "pass": p["pass"], "op": o.name, "start": o.start, "end": o.end,
                    "build_s": o.build_s, "action_s": o.action_s,
                    "action_self_s": o.action_s - job_s, "jobs_s": job_s,
                    "jobs_self_s": job_s - stage_s, "stages_s": stage_s,
                    "children": o.record["spans"],
                }
            )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(spans, f)


def prepare_inputs(args, work: str) -> str:
    data_dir = os.path.join(work, "data")
    datagen.write_tables(
        datagen.make_tables(args.seed, datagen.WORKLOAD_TABLES[args.workload]), data_dir
    )
    os.makedirs(os.path.join(work, "in"), exist_ok=True)
    return data_dir


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a terminated run still stops its JVM and workers (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    __import__(PKG)  # the engine must be importable from the checkout
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    hygiene.prepare_env(ROOT, work)
    host0 = hygiene.cpu_times()
    cpus = len(os.sched_getaffinity(0))
    data_dir = prepare_inputs(args, work)

    spark, setups = set_up(cpus)
    try:
        bench = Bench(args, spark, work, data_dir)
        bench.run()
        bench.check_cold_outputs()
        probes = bench.layer_probes() if args.trace else {}
        from pyspark import SparkContext

        rss = hygiene.peak_rss_mb(SparkContext._gateway.proc.pid)
    finally:
        hygiene.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    host1 = hygiene.cpu_times()
    host = {"steal_s": host1["steal_s"] - host0["steal_s"],
            "loadavg_1m": [host0["loadavg_1m"], host1["loadavg_1m"]]}

    failed_ops = [o for o in bench.ops if o.problems]
    for o in failed_ops[:10]:
        print(f"FAILED {o.name} (pass {o.pass_no}): {'; '.join(o.problems)}")
    e2e, detail = e2e_metrics(bench, setups)
    detail.update(
        workload=args.workload, seed=args.seed, cpus=cpus, host=host,
        jvm_peak_rss_mb=rss, passes=len(bench.passes),
    )
    if args.trace:
        metrics = layer_metrics(bench, setups, probes, host, rss)
        trace_path = os.path.join(HERE, ".work", "traces", f"{args.workload}-seed{args.seed}.json")
        write_trace(bench, trace_path)
        detail["trace_file"] = os.path.relpath(trace_path, ROOT)
        detail["end_to_end"] = e2e
    else:
        metrics = e2e
    print("LEADBENCH " + json.dumps(detail, sort_keys=True))
    result = {
        "correct": not failed_ops,
        "attempted": len(bench.ops),
        "failed": len(failed_ops),
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0 if not failed_ops else 1


if __name__ == "__main__":
    sys.exit(main())
