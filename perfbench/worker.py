"""One benchmark run in a fresh process and Spark session.

    python3 perfbench/worker.py --setup-only
    python3 perfbench/worker.py --workload W --seed N --inputs DIR --work DIR \
        --seconds S --trace 0|1 --result FILE

Prints ``PERFBENCH-READY <json>`` once ``legislative_bills_database_spark.plans``
is imported and the Spark session is up (``run.py`` times process start to
that line as set-up). Then it runs one cold pass and warm passes over the
workload's operations until ``--seconds`` of warm passes have elapsed, checks
the outputs outside the timed passes, and writes its figures to ``--result``.

With ``--trace 1`` every operation runs under its own Spark job group, and
the storage the session holds is read before and after it; calls into
``sources`` and ``pipelines`` are timed by wrapping their public functions.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

# iterative graph queries: plan build (eager checkpoints, convergence probes,
# driver-side loops) carries the time
ITERATIVE = ["q_label_prop", "q_cc_labels", "q_bfs_hops"]
# warm passes: the first SETTLING ones still run on a warming JIT and are
# left out of the warm figures; at least MEASURED more follow
SETTLING_PASSES = 1
MEASURED_PASSES = 4
# stop starting warm passes past this point so the run ends well within the
# 180 s a run may take, whatever --seconds says
PASS_DEADLINE_S = 110.0


def start():
    """Import the registry and start the session, as a user script does.
    The benchmark's own modules (DuckDB, the checks, the counters) are imported
    only after this, so set-up time holds no benchmark code."""
    t0 = time.perf_counter()
    from legislative_bills_database_spark import plans
    t1 = time.perf_counter()
    from legislative_bills_database_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    t2 = time.perf_counter()
    split = {"plans.import_s": t1 - t0, "session.start_s": t2 - t1,
             "queries": len(plans.QUERIES)}
    print("PERFBENCH-READY " + json.dumps(split), flush=True)
    return plans, spark


class _Capture:
    """A DataFrame stand-in for ``session.materialize_fully`` that keeps the
    (n, h) row its aggregate collects, so the checksum is not lost."""

    def __init__(self, df) -> None:
        self._df = df
        self.row = None

    def __getattr__(self, name):
        return getattr(self._df, name)

    def agg(self, *exprs):
        frame, capture = self._df.agg(*exprs), self

        class _Collect:
            def collect(self):
                rows = frame.collect()
                capture.row = rows[0]
                return rows

        return _Collect()


class Run:
    """Passes, per-operation records and the trace of one run."""

    def __init__(self, spark, trace: bool, groups: tuple[str, ...]) -> None:
        from counters import LayerTimer, SparkCounters

        self.spark = spark
        self.trace = trace
        # job-group suffixes an operation's Spark jobs run under
        self.groups = groups
        self.counters = SparkCounters(spark) if trace else None
        self.layers = LayerTimer()
        self.records: list[dict] = []
        self.pass_walls: list[float] = []
        self.pass_python_cpu: list[float] = []
        self.pass_storage: list[tuple[int, float]] = []
        self.pass_layers: list[dict[str, float]] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, name: str, pass_no: int, fn) -> None:
        """Run one operation; ``fn(rec)`` fills in its own fields. A failure
        is counted and reported, and the pass goes on."""
        rec = {"op": name, "pass": pass_no}
        self.attempted += 1
        if self.trace:
            rec["rdds_before"], rec["storage_mb_before"] = self.counters.storage()
            self.counters.set_group(f"{name}#{pass_no}")
        t0 = time.perf_counter()
        try:
            fn(rec)
        except Exception:
            self.failed += 1
            rec["error"] = traceback.format_exc(limit=3)
            print(f"operation {name} (pass {pass_no}) failed:\n{rec['error']}",
                  file=sys.stderr)
        rec["wall_s"] = time.perf_counter() - t0
        if self.trace:
            for group in self.groups:
                rec[f"spark{group}"] = self.counters.group_totals(
                    f"{name}#{pass_no}{group}")
            rec["rdds_after"], rec["storage_mb_after"] = self.counters.storage()
        self.records.append(rec)

    def run_pass(self, workload, pass_no: int) -> None:
        from counters import python_worker_cpu_s

        jvm = self.spark.sparkContext._gateway.proc.pid
        cpu0 = python_worker_cpu_s(jvm) if self.trace else 0.0
        layers0 = dict(self.layers.totals)
        t0 = time.perf_counter()
        workload.run_pass(self, pass_no)
        self.pass_walls.append(time.perf_counter() - t0)
        self.pass_layers.append(
            {k: v - layers0.get(k, 0.0) for k, v in self.layers.totals.items()}
        )
        if self.trace:
            self.pass_python_cpu.append(python_worker_cpu_s(jvm) - cpu0)
            self.pass_storage.append(self.counters.storage())


class QueryWorkload:
    """Registry queries: build the DataFrame, then materialize it fully."""

    def __init__(self, plans, spark, sf_dir: str, names: list[str]) -> None:
        from legislative_bills_database_spark.session import materialize_fully

        self.queries = plans.QUERIES
        self.oracle = plans.ORACLE
        self.materialize = materialize_fully
        self.spark = spark
        self.sf_dir = sf_dir
        self.names = names
        self.last_df: dict = {}
        self.results: dict[str, set] = defaultdict(set)

    def run_pass(self, run: Run, pass_no: int) -> None:
        for name in self.names:
            run.op(name, pass_no, lambda rec, name=name: self._query(run, name, pass_no, rec))

    def _query(self, run: Run, name: str, pass_no: int, rec: dict) -> None:
        t0 = time.perf_counter()
        if run.trace:
            run.counters.set_group(f"{name}#{pass_no}.build")
        df = self.queries[name](self.spark, self.sf_dir)
        t1 = time.perf_counter()
        if run.trace:
            run.counters.set_group(f"{name}#{pass_no}.exec")
        capture = _Capture(df)
        rows = self.materialize(capture)
        rec["build_s"], rec["action_s"] = t1 - t0, time.perf_counter() - t1
        rec["rows"], rec["checksum"] = rows, capture.row["h"]
        self.results[name].add((rows, capture.row["h"]))
        self.last_df[name] = df

    def check(self, run: Run) -> None:
        from checks import GRAPH_CHECKS, duckdb_con, twin_mismatch

        con = duckdb_con(self.sf_dir)
        try:
            for name in self.names:
                if name not in self.last_df:
                    continue  # failed in every pass; counted in `failed`
                if len(self.results[name]) != 1:
                    run.problems.append(
                        f"{name}: (rows, checksum) changed between passes: "
                        f"{sorted(self.results[name], key=str)}"
                    )
                df = self.last_df[name]
                if name in self.oracle:
                    bad = twin_mismatch(df, self.oracle[name], con)
                else:
                    bad = GRAPH_CHECKS[name](df.collect(), con)
                if bad:
                    run.problems.append(f"{name}: {bad}")
        finally:
            con.close()


class PipelineWorkload:
    """The reference's job: ingest a LegiScan-shaped JSON tree from the
    in-process API, then run the three pipelines over it. Every pass
    ingests into a tree of its own, so every pass runs the same
    operations."""

    def __init__(self, spark, seed: int, inputs: str, work: str) -> None:
        import gen_legiscan as gen
        from legislative_bills_database_spark.sources.rest import RestClient

        self.gen = gen
        self.spark = spark
        self.inputs = inputs
        self.work = Path(work)
        self.corpus = gen.make_corpus(seed)
        self.transport = gen.ApiTransport(inputs)
        # calls stay in process: no pacing between them
        self.client = RestClient("legiscan://in-process/", "bench-key",
                                 transport=self.transport,
                                 rate_limit_per_sec=1e9)
        self.outputs: list[dict] = []
        self.ingested: list[list[str]] = []

    def trace_layers(self, layers) -> None:
        from legislative_bills_database_spark.pipelines import budget_bill_search
        from legislative_bills_database_spark.sources import documents

        layers.wrap(documents, "read_bills", "sources.list_s")
        layers.wrap(documents, "read_people", "sources.list_s")
        layers.wrap(budget_bill_search, "fetch_chaptered_html", "sources.html_fetch_s")

    def run_pass(self, run: Run, pass_no: int) -> None:
        from legislative_bills_database_spark import pipelines
        from legislative_bills_database_spark.sources import documents, extract
        from legislative_bills_database_spark.sources.rest import fetch_datasets
        from pyspark.sql import functions as F

        rid = f"p{pass_no}"
        out = str(self.work / "out" / rid)
        data_root = str(self.work / "data" / rid)
        paths: dict = {}

        def ingest(rec):
            self.ingested.append(fetch_datasets(self.client, data_root))

        def counts(rec):
            paths["counts"], paths["special"] = pipelines.run_legislator_bill_counts(
                self.spark, data_root, out, run_id=rid)

        def search(rec):
            paths["search"] = pipelines.run_search_all_bills(
                self.spark, data_root, out, self.gen.SEARCH_TERMS,
                self.corpus.search_years, save_name="search", run_id=rid)

        def budget(rec):
            bills = documents.read_bills(self.spark, data_root)
            pdf = extract.read_pdf_lines(self.spark, f"{self.inputs}/sbud/*.pdf")
            lines = pdf.select(
                F.regexp_extract("path", r"([0-9]{4})_sbud\.pdf$", 1)
                .cast("int").alias("year"),
                "line",
            )
            paths["budget"] = pipelines.run_budget_bill_search(
                self.spark, self.client, bills, lines,
                str(self.work / "downloads" / rid), out,
                self.gen.BUDGET_TERMS, run_id=rid)

        for name, fn in (("ingest", ingest),
                         ("legislator_counts", counts),
                         ("search_all_bills", search),
                         ("budget_bill_search", budget)):
            run.op(name, pass_no, fn)
        self.outputs.append(paths)

    def check(self, run: Run) -> None:
        from checks import read_csv_dir, read_partitioned_csv, same_table

        want = self.gen.expected_reports(self.corpus)
        for pass_no, got in enumerate(self.ingested):
            if sorted(got) != sorted(self.corpus.sessions):
                run.problems.append(f"pass {pass_no}: ingest downloaded {got}")
        for pass_no, paths in enumerate(self.outputs):
            for key in ("counts", "special", "search"):
                if key in paths and not same_table(
                        read_csv_dir(paths[key]), want[key]):
                    run.problems.append(f"pass {pass_no}: {key} report differs")
            if "budget" in paths:
                got = read_partitioned_csv(paths["budget"], "term")
                if sorted(got) != sorted(want["budget"]) or not all(
                    same_table(got[t], want["budget"][t]) for t in got
                ):
                    run.problems.append(f"pass {pass_no}: budget report differs")


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def layer_metrics(run: Run, names: list[str]) -> dict:
    """Per-layer figures: cold-pass sums, and medians of warm-pass sums."""
    warm_passes = range(1 + SETTLING_PASSES, len(run.pass_walls))
    per_pass: dict[str, list[float]] = defaultdict(lambda: [0.0] * len(run.pass_walls))
    for rec in run.records:
        p, tot = rec["pass"], per_pass
        tot["build"][p] += rec.get("build_s", 0.0)
        tot["action"][p] += rec.get("action_s", 0.0)
        tot["build_jobs"][p] += rec.get("spark.build", {}).get("jobs", 0)
        # jobs and stages of the action; stage metrics of every job the
        # operation launched, those of a query's build included
        action = rec.get("spark.exec", rec.get("spark", {}))
        for key in ("jobs", "stages"):
            tot[key][p] += action.get(key, 0)
        groups = [rec[k] for k in ("spark", "spark.build", "spark.exec") if k in rec]
        for key in ("executor_s", "shuffle_mb", "spill_mb", "input_mb", "gc_s"):
            tot[key][p] += sum(g.get(key, 0.0) for g in groups)
        tot[f"op.{rec['op']}"][p] += rec["wall_s"]

    def warm(key: str) -> float:
        return _median([per_pass[key][p] for p in warm_passes])

    n_warm = len(run.pass_walls) - 1
    rdds_cold, _ = run.pass_storage[0]
    rdds_end, mb_end = run.pass_storage[-1]
    out = {
        "plans.build_cold_s": per_pass["build"][0],
        "plans.build_warm_s": warm("build"),
        "plans.build_jobs": warm("build_jobs"),
        "exec.action_cold_s": per_pass["action"][0],
        "exec.action_warm_s": warm("action"),
        "exec.jobs": warm("jobs"),
        "exec.stages": warm("stages"),
        "exec.executor_s": warm("executor_s"),
        "exec.parallelism": warm("executor_s") / _median(
            [run.pass_walls[p] for p in warm_passes]),
        "exec.shuffle_mb": warm("shuffle_mb"),
        "exec.spill_mb": warm("spill_mb"),
        "exec.input_mb": warm("input_mb"),
        "exec.gc_s": warm("gc_s"),
        "exec.python_cpu_s": _median(
            [run.pass_python_cpu[p] for p in warm_passes]),
        "storage.rdds_end": rdds_end,
        "storage.rdds_per_warm_pass": (rdds_end - rdds_cold) / n_warm,
        "storage.mb_end": mb_end,
        "sources.ingest_s": per_pass["op.ingest"][0],
        "sources.list_s": _median(
            [run.pass_layers[p].get("sources.list_s", 0.0) for p in warm_passes]),
        "sources.html_fetch_s": _median(
            [run.pass_layers[p].get("sources.html_fetch_s", 0.0) for p in warm_passes]),
        "pipelines.legislator_counts_s": warm("op.legislator_counts"),
        "pipelines.search_all_bills_s": warm("op.search_all_bills"),
        "pipelines.budget_bill_search_s": warm("op.budget_bill_search"),
    }
    for name in names:
        out[f"q.{name}.cold_s"] = per_pass[f"op.{name}"][0]
        out[f"q.{name}.warm_s"] = warm(f"op.{name}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--inputs")
    ap.add_argument("--work")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result")
    args = ap.parse_args()

    t_process = time.perf_counter()
    plans, spark = start()
    if args.setup_only:
        # the JVM exits on its own once this process is gone
        os._exit(0)
    try:
        trace = bool(args.trace)
        names: list[str] = []
        if args.workload == "pipelines-json":
            run = Run(spark, trace, groups=("",))
            workload = PipelineWorkload(spark, args.seed, args.inputs, args.work)
            if trace:
                workload.trace_layers(run.layers)
        else:
            run = Run(spark, trace, groups=(".build", ".exec"))
            names = ITERATIVE
            workload = QueryWorkload(plans, spark, args.inputs, names)

        warm_start = None
        while True:
            run.run_pass(workload, len(run.pass_walls))
            now = time.perf_counter()
            if warm_start is None:
                warm_start = now
                continue
            n_warm = len(run.pass_walls) - 1
            if n_warm >= SETTLING_PASSES + MEASURED_PASSES and (
                now - warm_start >= args.seconds
            ) or n_warm > SETTLING_PASSES and now - t_process >= PASS_DEADLINE_S:
                break
        run.layers.restore()

        from counters import held_mb, peak_rss_mb

        result = {
            "e2e": {
                "cold_pass_s": run.pass_walls[0],
                "warm_pass_s": _median(run.pass_walls[1 + SETTLING_PASSES:]),
            },
            "passes": run.pass_walls,
        }
        if trace:
            jvm = spark.sparkContext._gateway.proc.pid
            # the peak first: the full GCs of held_mb must not shape it
            result["layers"] = {**layer_metrics(run, names),
                                "proc.peak_rss_mb": peak_rss_mb([os.getpid(), jvm]),
                                "proc.held_mb": held_mb(spark)}
            result["ops"] = run.records
        workload.check(run)
        result.update(attempted=run.attempted, failed=run.failed,
                      correct=not run.problems, problems=run.problems)
        Path(args.result).write_text(json.dumps(result, default=str))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
