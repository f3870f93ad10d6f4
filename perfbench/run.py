#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 20 --trace 0

One process drives one client in a closed loop: operations run one
after another on the engine's default session (``local[nproc]``).
The run generates its inputs, sets the engine up and runs one pass
over the workload in the fresh process, checking every result.  The
pass is the unit of measurement: its length is set by the workload,
and ``--seconds`` is accepted for the harness's interface only.  With
``--trace 1`` the pass is traced and the run reports per-layer metrics
instead of end-to-end ones.

The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
is a ``detail`` object with per-operation samples, the effective Spark
conf and the ETL figures.  See README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import importlib.util
from collections import Counter
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# bench.py's HEADLINE list, fixed here so the workload cannot drift.
HEADLINE = (
    "q01_week_count",
    "q04_recent_weeks_totals",
    "q05_revenue_ratio_by_segment",
    "q08_priority_month_ratio",
    "q12_first_line_per_order",
    "q13_customers_without_orders",
    "q18_token_counts",
    "q20_quality_scores",
    "q22_ann_cosine_topk",
    "q24_minhash_neardup_pairs",
    "q27_hourly_event_stats",
    "q29_user_sessions",
    "q33_distinct_users_by_type",
    "q36_multimodal_meta",
    "q40_asof_last_click_before_purchase",
    "q41_clicks_within_day_of_error",
    "q42_srp_lsh_neardup_pairs",
)
# The star tables are a fixed input: the committed digests in
# expected.json were computed over exactly this data.
STAR_SEED = 42
OPERATOR_MODULES = (
    "setsim", "text_dedup", "similarity", "graph", "corpus",
    "dedup", "validation", "cleaning", "windows",
)
REPORT_WEEK = "2022-09-09"
REPORT_OWNERSHIP = "Proprietary"
PACKAGE = "team_aragon_spark"


def process_start() -> float:
    """``time.monotonic()`` value at which this process started."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.monotonic() - age


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Failures:
    """Attempted and failed operations; every failure is logged."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, op: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems:
                print(f"FAILED {op}: {p}", file=sys.stderr)
        return not problems


class Bench:
    """One workload in one process."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.fail = Failures()
        self.tracer = None
        self.group = None
        self.op_index = 0
        self.layer_errors: list[float] = []
        self.acc: Counter[str] = Counter()
        self.excluded_s = 0.0

    # -- setup ---------------------------------------------------------------

    def setup(self) -> dict[str, float]:
        t0 = time.monotonic()
        from team_aragon_spark.plans.star_queries import QUERY_REGISTRY
        from team_aragon_spark.session import get_spark

        t1 = time.monotonic()
        self.spark = get_spark("perfbench")
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        t2 = time.monotonic()
        # bench.py's warm-up: the first job, then the Python workers.
        self.spark.range(1).count()

        def _noop(batches):
            yield from batches

        self.spark.range(64).repartition(8).mapInPandas(_noop, schema="id long").write.format(
            "noop"
        ).mode("overwrite").save()
        t3 = time.monotonic()
        self.registry = QUERY_REGISTRY
        self.cores = self.sc.defaultParallelism
        return {"import_s": t1 - t0, "get_spark_s": t2 - t1, "warmup_s": t3 - t2, "end": t3}

    def peak_rss_mb(self) -> float:
        """Peak RSS of the engine JVM plus this Python process."""
        return vm_hwm_mb(self.sc._gateway.proc.pid) + vm_hwm_mb("self")

    def install_tracing(self) -> None:
        import importlib

        from spans import Tracer, wrap_function, wrap_module_functions

        from team_aragon_spark.pipeline import sinks
        from team_aragon_spark.sources import catalog, readers

        tracker = self.sc.statusTracker()
        self.tracer = Tracer(
            job_count=lambda: len(tracker.getJobIdsForGroup(self.group)) if self.group else 0,
            active=False,
        )
        for name in OPERATOR_MODULES:
            mod = importlib.import_module(f"{PACKAGE}.operators.{name}")
            wrap_module_functions(self.tracer, mod, f"operators.{name}", PACKAGE)
        for fn in (catalog.read_table, readers.read_hhs_csv, readers.read_cms_csv):
            wrap_function(self.tracer, fn, "sources", PACKAGE)
        sinks.ParquetStore.append = self.tracer.wrap("pipeline.sinks.append", sinks.ParquetStore.append)

    # -- one operation ---------------------------------------------------------

    def run_op(self, name: str, build, sink: str, check=None) -> float | None:
        """Build DataFrame(s), materialise them, and return the wall time.

        ``build`` returns one DataFrame or a tuple of them (or, for a
        load, the load report).  ``sink`` is ``collect`` or ``none``
        (the build call already did the work).  ``check`` receives the
        collected rows or report, outside the timed region, and returns
        a list of problems.  The operation is traced if tracing is
        installed.  Returns None if the operation failed.
        """
        traced = self.tracer is not None
        if traced:
            self.op_index += 1
            self.group = f"perfbench-{self.op_index}"
            self.sc.setJobGroup(self.group, name)
            self.group_name = name.split(":")[0]
            self.tracer.active = True
        try:
            t0 = time.monotonic()
            if traced:
                wall, result = self._run_traced(build, sink, t0)
            else:
                result = self._materialise(build(), sink)
                wall = time.monotonic() - t0
            t1 = time.monotonic()
            problems = check(result) if check else []
            self.excluded_s += time.monotonic() - t1
        except Exception as exc:  # a failing operation is counted, not fatal
            traceback.print_exc()
            problems, wall = [f"{type(exc).__name__}: {exc}"], None
        finally:
            if traced:
                self.tracer.active = False
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.group = None
        self.spark.catalog.clearCache()
        return wall if self.fail.record(name, problems) else None

    def timed_pass(self):
        """Start a pass clock that leaves out time spent on checks."""
        t0, ex0 = time.monotonic(), self.excluded_s
        return lambda: (time.monotonic() - t0) - (self.excluded_s - ex0)

    def _materialise(self, out, sink: str):
        if sink == "none":
            return out
        dfs = out if isinstance(out, tuple) else (out,)
        return [(df.columns, df.collect()) for df in dfs]

    def _run_traced(self, build, sink, t0):
        from spans import catalyst_phases, stage_totals

        tr, sc = self.tracer, self.sc
        tracker = sc.statusTracker()
        with tr.span("op"):
            with tr.span("plans" if sink != "none" else "pipeline." + self.group_name):
                out = build()
            t1 = time.monotonic()
            dfs = () if sink == "none" else (out if isinstance(out, tuple) else (out,))
            for df in dfs:
                df._jdf.queryExecution().executedPlan()
            build_jobs = set(tracker.getJobIdsForGroup(self.group))
            t2 = time.monotonic()
            with tr.span("exec"):
                result = self._materialise(out, sink)
            t3 = time.monotonic()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = set(tracker.getJobIdsForGroup(self.group))
        if sink == "none":  # a load: everything it ran is execution
            exec_jobs, build_jobs = jobs, set()
            exec_s = t3 - t0
        else:
            exec_jobs = jobs - build_jobs
            exec_s = t3 - t2
        ex = stage_totals(sc, exec_jobs)
        bx = stage_totals(sc, build_jobs)
        cat = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for df in dfs:
            for k, v in catalyst_phases(df).items():
                cat[k] += v
        wall = t3 - t0
        if dfs:
            build_s = (t1 - t0) - cat["analysis"]
            layer_sum = build_s + sum(cat.values()) + exec_s
            self.layer_errors.append(abs(layer_sum - wall) / wall)
        a = self.acc
        a["plans.build_jobs"] += len(build_jobs)
        a["plans.build_executor_s"] += bx["executor_run_s"]
        for k, v in cat.items():
            a[f"catalyst.{k}_s"] += v
        a["exec.s"] += exec_s
        a["exec.jobs"] += len(exec_jobs)
        for k, v in ex.items():
            a[f"exec.{k}"] += v
        a["exec.persisted_rdds_left"] += len(sc._jsc.getPersistentRDDs())
        if sink == "none":
            a["pipeline.batches"] += 1
            a["pipeline.batch_jobs"] += len(jobs)
        a["trace.bookkeeping_s"] += time.monotonic() - t3
        return wall, result


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


def headline(bench: Bench) -> dict:
    from checks import digest, load_expected

    import gen

    star_dir = os.path.join(bench.work, "star")
    gen.write_star(star_dir, STAR_SEED)
    expected = load_expected()

    def check(name):
        def _check(result):
            (cols, rows), = result
            want = expected[name]
            got = digest(cols, rows)
            if (got, len(rows)) != (want["digest"], want["rows"]):
                return [f"digest {got[:12]} rows {len(rows)}, expected {want['digest'][:12]} rows {want['rows']}"]
            return []

        return _check

    # bench.py's order, whatever the seed: in a cold pass the one-time
    # costs fall on the first queries, so a permuted order moves them
    # between queries and the median query latency with them.
    per = {}
    elapsed = bench.timed_pass()
    for name in HEADLINE:
        fn = bench.registry[name].fn
        per[name] = bench.run_op(name, lambda: fn(bench.spark, star_dir), "collect", check(name))
    return {"pass": {"wall": elapsed(), "ops": per}, "inputs": {"star_seed": STAR_SEED}}


def etl(bench: Bench) -> dict:
    from checks import StoreChecker, digest, load_mismatches, report_sql

    import gen
    from team_aragon_spark.pipeline.hhs_load import load_hhs_batch
    from team_aragon_spark.pipeline.quality_load import load_quality_batch
    from team_aragon_spark.pipeline.sinks import ParquetStore
    from team_aragon_spark.plans import reports

    planted = bench.planted
    data_date = planted["cms"][0]["date"]
    rows_in = sum(h["rows"] for h in planted["hhs"]) + sum(c["rows"] for c in planted["cms"])
    bytes_in = sum(os.path.getsize(x["path"]) for x in planted["hhs"] + planted["cms"])
    sql = report_sql(REPORT_WEEK, REPORT_OWNERSHIP, data_date)
    report_ops = (
        ("records_loaded_per_week", lambda s, st: reports.records_loaded_per_week(s, st, REPORT_WEEK), ("records_loaded_per_week",)),
        ("beds_summary_for_week", lambda s, st: reports.beds_summary_for_week(s, st, REPORT_WEEK), ("beds_summary_for_week",)),
        ("beds_summary_recent_weeks", lambda s, st: reports.beds_summary_recent_weeks(s, st), ("beds_summary_recent_weeks",)),
        ("fraction_beds_in_use_by_rating", lambda s, st: reports.fraction_beds_in_use_by_rating(s, st, REPORT_WEEK), ("fraction_beds_in_use_by_rating",)),
        ("hospital_cases_by_week", lambda s, st: reports.hospital_cases_by_week(s, st, REPORT_WEEK), ("hospital_cases_by_week",)),
        ("emergency_services_by_state", lambda s, st: reports.emergency_services_by_state(s, st), ("emergency_services_by_state",)),
        ("beds_in_use_by_ownership", lambda s, st: reports.beds_in_use_by_ownership(s, st, REPORT_OWNERSHIP), ("beds_in_use_by_ownership",)),
        ("top_and_bottom_rated_states", lambda s, st: reports.top_and_bottom_rated_states(s, st, data_date), ("top_rated_states", "bottom_rated_states")),
    )

    def run_pass():
        root = os.path.join(bench.work, "store")
        store = ParquetStore(os.path.join(root, "tables"))
        quarantine = os.path.join(root, "quarantine")
        spark = bench.spark
        rows = {"stored": 0, "quarantined": 0}

        def check_load(kind, planted_counts):
            def _check(rep):
                if kind == "hhs":
                    rows["stored"] += sum(rep.table_rows.values())
                    rows["quarantined"] += rep.quarantined_invalid
                else:
                    rows["stored"] += rep.inserted
                    rows["quarantined"] += rep.duplicates
                return load_mismatches(kind, rep, planted_counts)

            return _check

        elapsed = bench.timed_pass()
        per = {}
        for k, h in enumerate(planted["hhs"]):
            per[f"hhs_load:{k}"] = bench.run_op(
                f"hhs_load:{k}",
                lambda h=h, k=k: load_hhs_batch(spark, h["path"], store, os.path.join(quarantine, f"hhs-{k}")),
                "none", check_load("hhs", h),
            )
        for k, c in enumerate(planted["cms"]):
            per[f"quality_load:{k}"] = bench.run_op(
                f"quality_load:{k}",
                lambda c=c, k=k: load_quality_batch(spark, c["date"], c["path"], store, os.path.join(quarantine, f"cms-{k}")),
                "none", check_load("cms", c),
            )
        load_s = elapsed()
        t_check = time.monotonic()
        checker = StoreChecker(store.root)
        try:
            counts = checker.row_counts()
            bench.fail.record(
                "store_row_counts",
                [] if counts == planted["store"] else [f"store rows {counts}, planted {planted['store']}"],
            )
            bench.excluded_s += time.monotonic() - t_check
            for name, fn, keys in report_ops:
                def _check(result, keys=keys):
                    got = [digest(cols, rows) for cols, rows in result]
                    want = [checker.digest(sql[k]) for k in keys]
                    return [] if got == want else [f"report differs from DuckDB over the store: {keys}"]

                per[f"report:{name}"] = bench.run_op(
                    f"report:{name}", lambda fn=fn: fn(spark, store), "collect", _check,
                )
        finally:
            checker.close()
        wall = elapsed()
        files, nbytes = 0, 0
        for d, _, names in os.walk(root):
            for n in names:
                if not n.startswith((".", "_")):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(d, n))
        shutil.rmtree(root, ignore_errors=True)
        return {
            "wall": wall,
            "load_s": load_s,
            "report_s": wall - load_s,
            "ops": per,
            "files_written": files,
            "bytes_written": nbytes,
            "rows_stored": rows["stored"],
            "rows_quarantined": rows["quarantined"],
        }

    return {"pass": run_pass(), "inputs": {"rows_in": rows_in, "bytes_in": bytes_in}}


WORKLOADS = {"headline": headline, "etl": etl}


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


def end_to_end(bench: Bench, res: dict, setup_s: float) -> tuple[dict, dict]:
    from spans import median_and_count

    p = res["pass"]
    etl = bench.args.workload == "etl"
    lat = [v for k, v in p["ops"].items() if v is not None and (k.startswith("report:") or not etl)]
    p50, n_lat = median_and_count(lat) if lat else (0.0, 0)  # every query failed
    metrics = {"setup_s": (setup_s, "s"), "cold_s": (p["wall"], "s")}
    detail = {"query_p50_s": p50, "query_samples": n_lat}
    if etl:
        detail.update({
            "load_s": p["load_s"],
            "load_rows_per_s": res["inputs"]["rows_in"] / p["load_s"],
            "report_s": p["report_s"],
            "rows_in_per_pass": res["inputs"]["rows_in"],
        })
    return metrics, detail


def per_layer(bench: Bench, res: dict, setup: dict) -> tuple[dict, dict]:
    p = res["pass"]
    tot = bench.tracer.totals()
    a = bench.acc
    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (setup["get_spark_s"], "s"),
        "session.warmup_s": (setup["warmup_s"], "s"),
    }

    def span(name, key):
        return tot.get(name, {}).get(key, 0)

    m["sources.read_s"] = (span("sources", "s"), "s")
    m["sources.read_calls"] = (span("sources", "calls"), "count")
    m["sources.read_jobs"] = (span("sources", "jobs"), "count")
    m["plans.build_s"] = (span("plans", "s"), "s")
    m["plans.build_jobs"] = (a["plans.build_jobs"], "count")
    m["plans.build_executor_s"] = (a["plans.build_executor_s"], "s")
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.s"] = (span(f"operators.{mod}", "s"), "s")
        m[f"operators.{mod}.calls"] = (span(f"operators.{mod}", "calls"), "count")
        m[f"operators.{mod}.jobs"] = (span(f"operators.{mod}", "jobs"), "count")
    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_s"] = (a[f"catalyst.{k}_s"], "s")
    units = {
        "s": "s", "jobs": "count", "stages": "count", "tasks": "count",
        "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
        "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
        "spill_bytes": "bytes", "input_bytes": "bytes", "input_records": "count",
        "failed_tasks": "count", "persisted_rdds_left": "count",
    }
    for k, u in units.items():
        m[f"exec.{k}"] = (a[f"exec.{k}"], u)
    exec_s = a["exec.s"]
    m["exec.peak_rss_mb"] = (bench.peak_rss_mb(), "MB")
    m["exec.core_busy_ratio"] = (
        a["exec.executor_run_s"] / (exec_s * bench.cores) if exec_s else 0.0, "ratio"
    )
    etl = bench.args.workload == "etl"
    batches = a["pipeline.batches"]
    m["pipeline.hhs_load_s"] = (span("pipeline.hhs_load", "s"), "s")
    m["pipeline.quality_load_s"] = (span("pipeline.quality_load", "s"), "s")
    m["pipeline.jobs_per_batch"] = (a["pipeline.batch_jobs"] / batches if batches else 0.0, "count")
    m["pipeline.rows_in"] = (res["inputs"].get("rows_in", 0), "count")
    m["pipeline.rows_stored"] = (p.get("rows_stored", 0), "count")
    m["pipeline.rows_quarantined"] = (p.get("rows_quarantined", 0), "count")
    m["pipeline.sinks.append_s"] = (span("pipeline.sinks.append", "s"), "s")
    written = p.get("bytes_written", 0)
    m["pipeline.sinks.bytes_written"] = (written, "bytes")
    m["pipeline.sinks.bytes_per_input_byte"] = (
        written / res["inputs"]["bytes_in"] if etl else 0.0, "ratio"
    )
    m["pipeline.sinks.files_written"] = (p.get("files_written", 0), "count")
    m["trace.wall_s"] = (p["wall"], "s")
    m["trace.overhead_s"] = (bench.tracer.overhead_s + a["trace.bookkeeping_s"], "s")
    errs = bench.layer_errors
    m["trace.layer_sum_max_error"] = (max(errs) if errs else 0.0, "ratio")
    m["trace.ops_outside_10pct"] = (sum(e > 0.10 for e in errs), "count")
    return m, {"query_ops_traced": len(errs)}


# ---------------------------------------------------------------------------
# Main
# ---------------------------------------------------------------------------


def stop_spark(bench: Bench) -> None:
    """Stop the session and wait for the engine JVM to exit."""
    spark = getattr(bench, "spark", None)
    if spark is None:
        return
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc if SparkContext._gateway else None
    spark.stop()
    if proc is not None:
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_proc = process_start()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    for mod in (PACKAGE, "pyspark", "duckdb"):
        if importlib.util.find_spec(mod) is None:
            print(f"cannot run: module {mod} not found", file=sys.stderr)
            return 2
    if not os.path.isfile(os.path.join(ROOT, "tests", "oracle.py")):
        print("cannot run: tests/oracle.py is missing", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"

    bench = Bench(args, work)
    try:
        t_gen = time.monotonic()
        import gen

        bench.planted = gen.write_etl_inputs(os.path.join(work, "etl"), args.seed) if args.workload == "etl" else None
        gen_s = time.monotonic() - t_gen
        setup = bench.setup()
        setup_s = setup["end"] - t_proc - gen_s
        if args.trace:
            bench.install_tracing()
        res = WORKLOADS[args.workload](bench)
        if args.trace:
            metrics, detail = per_layer(bench, res, setup)
        else:
            metrics, detail = end_to_end(bench, res, setup_s)
        detail["peak_rss_mb"] = bench.peak_rss_mb()
        conf = dict(sorted(bench.sc.getConf().getAll()))
    finally:
        stop_spark(bench)
        shutil.rmtree(work, ignore_errors=True)

    detail.update({
        "workload": args.workload, "seed": args.seed, "cores": cpus,
        "setup": {k: v for k, v in setup.items() if k != "end"}, "input_gen_s": gen_s,
        "setup_s": setup_s, "fail_ratio": bench.fail.failed / max(bench.fail.attempted, 1),
        "pass": res["pass"],
        "conf": conf,
    })
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": bench.fail.failed == 0,
        "attempted": bench.fail.attempted,
        "failed": bench.fail.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
