"""Layered slow-log benchmark: one run of one workload.

    python3 perfbench/run.py --workload ingest_dense --seed 1 --seconds 14 --trace 0

Run from the repository root. The run generates its slow log from the
seed (cached under ``perfbench/.work``), starts one ``local[nproc/2]``
session through ``session.get_session``, warms up, then measures the
workload for ``--seconds`` seconds:

* ``ingest_dense`` / ``ingest_diverse`` — back-to-back batch ingests,
  log file → committed class-table parquet, through
  ``plans.pipeline.ingest_slowlog`` and ``sink_classes_parquet``;
* ``qan_dashboard`` — a closed loop with one client over the class
  table that set-up built from the diverse corpus: ``top_digests`` over
  one day, one digest's time series, per-dimension totals over one day.

Every output is checked outside the timed region (ground truth for
ingests, DuckDB for queries). The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1``. The line before it carries the full report (host
stamp, throughput, latency percentiles, sample counts). A wrong result
exits with code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from datetime import datetime, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from bench import cpu_steal_pct, cpu_steal_snapshot  # noqa: E402
from perfbench import corpus as corpora  # noqa: E402
from perfbench import spans  # noqa: E402
from perfbench.checks import DashboardOracle, check_class_table, same_rows  # noqa: E402
from slowlog2clickhouse_spark.functions.fingerprint import (  # noqa: E402
    any_construct_flag,
    digest_col,
    fingerprint_col,
    routed_fingerprint,
)
from slowlog2clickhouse_spark.plans.pipeline import (  # noqa: E402
    aggregate_classes,
    ingest_slowlog,
    sink_classes_parquet,
    top_digests,
)
from slowlog2clickhouse_spark.session import get_session  # noqa: E402
from slowlog2clickhouse_spark.sources.slowlog import (  # noqa: E402
    parse_slowlog,
    read_slowlog_records,
)

# sizes: a warm ingest takes ~2.5-3 s on 2 of 4 vCPUs, so a run holds several
N_EVENTS = 20_000
# untimed work between the cold first ingest and timing: the JIT keeps
# speeding ingests and queries up for many operations after the first
INGEST_WARMUP_PASSES = 3
WARMUP_QUERIES = 45
MIN_OPS = 3  # per untraced run, even if --seconds runs out first
STEAL_MAX_PCT = 5.0  # bench.py's STEAL_RETRY_PCT: above it a sample is not clean
MIN_LADDER_REPS = 3
TRACE_QUERIES = 30  # dashboard queries in a traced ingest run
DRIVER_MEM = "2g"

WORKLOADS = {
    # workload: (corpus kind, fingerprint mode)
    "ingest_dense": ("dense", "chain"),
    "ingest_diverse": ("diverse", "routed"),
    "qan_dashboard": ("diverse", "routed"),
}
QUERY_KINDS = ("top", "drilldown", "dimensions")
# queries share one steal reading per window of two kind rotations
# (~1 s): a single ~0.2 s query spans too few clock ticks to measure
# steal, and whole rotations keep the kinds' proportions when windows
# are dropped
STEAL_WINDOW_QUERIES = 2 * len(QUERY_KINDS)
DIMENSIONS = ("db", "user", "host")
RUNGS = ("split", "parse", "fingerprint", "digest", "aggregate", "sink")
REPORT_UNITS = {
    "setup_s": "s",
    "op_steal_pct": "%",
    "op_p50_all_ms": "ms",
    "op_p50_clean_ops": "count",
    "ingests": "count",
    "ingest_s": "s",
    "ingest_events_per_s": "events/s",
    "ingest_mb_per_s": "MB/s",
    "queries": "count",
    "query_ms": "ms",
    "query_p50_ms": "ms",
    "query_p95_ms": "ms",
    "samples_beyond_p95": "count",
    "ops_failed_ratio": "ratio",
}


def _prepare_environment() -> None:
    """Keep every file the run writes inside the checkout."""
    for sub in ("tmp", "spark-local", "out", "corpora"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # Python workers run the interpreter of this process, not whatever
    # PYSPARK_PYTHON or PATH names
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # half the vCPUs: every Spark task of an ingest keeps a JVM thread and
    # a Python worker busy, so local[nproc] would run 2 x nproc busy
    # threads and each stage would wait for the most delayed one
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def _session_conf(event_log_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
            f" -Dderby.stream.error.file={os.path.join(WORK, 'tmp', 'derby.log')}"
        ),
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_log_dir,
        })
    return conf


def _host_stamp(steal: float | None, load: float) -> dict:
    import pyarrow
    import pyspark

    return {
        "cpu_steal_pct": steal,
        "loadavg_1m": load,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


class Run:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.mode = WORKLOADS[args.workload][1]
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.tracer = spans.Tracer(self.run_id, enabled=bool(args.trace))
        self.out_root = os.path.join(WORK, "out", self.run_id)
        self.event_log_dir = (
            os.path.join(WORK, "eventlog", self.run_id) if args.trace else None
        )
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self._n_out = 0
        self.spark = None

    # -- engine calls -------------------------------------------------------

    def start_session(self):
        if self.event_log_dir:
            os.makedirs(self.event_log_dir, exist_ok=True)
        self.spark = get_session(
            app_name="perfbench", extra_conf=_session_conf(self.event_log_dir)
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def fresh_out(self) -> str:
        self._n_out += 1
        return os.path.join(self.out_root, f"classes-{self._n_out}")

    def ingest(self, log_path: str, out: str) -> None:
        classes = ingest_slowlog(
            self.spark, log_path, fingerprint=self.mode, percentiles="exact"
        )
        sink_classes_parquet(classes, out)

    def query(self, classes, kind: str, params: dict) -> list[tuple]:
        if kind == "top":
            day = classes.where(F.col("period_date") == F.lit(params["day"]).cast("date"))
            df = top_digests(day, k=params["k"])
        elif kind == "drilldown":
            df = (
                classes.where(F.col("digest") == params["digest"])
                .select("period_start", "num_queries", "m_query_time_sum", "m_query_time_p95")
                .orderBy("period_start")
            )
        else:
            dim = params["dim"]
            df = (
                classes.where(F.col("period_date") == F.lit(params["day"]).cast("date"))
                .groupBy(dim)
                .agg(F.sum("num_queries"), F.sum("m_query_time_sum"))
                .orderBy(F.col(dim).asc_nulls_first())
            )
        return [tuple(r) for r in df.collect()]

    def ladder_rung(self, rung: str, log_path: str, out: str) -> None:
        """One cumulative prefix of the pipeline, ending in the noop sink
        (the last rung is the real ingest into parquet)."""
        if rung == "sink":
            self.ingest(log_path, out)
            return
        if rung == "split":
            df = read_slowlog_records(self.spark, log_path)
        else:
            df = parse_slowlog(self.spark, log_path)
        if RUNGS.index(rung) >= RUNGS.index("fingerprint"):
            if self.mode == "routed":
                df = routed_fingerprint(df, "query", "fingerprint")
            else:
                df = df.withColumn("fingerprint", fingerprint_col(F.col("query")))
        if RUNGS.index(rung) >= RUNGS.index("digest"):
            df = df.withColumn("digest", digest_col(F.col("fingerprint")))
        if rung == "aggregate":
            df = aggregate_classes(df, percentiles="exact")
        df.write.format("noop").mode("overwrite").save()

    # -- workload phases ----------------------------------------------------

    def setup(self, corpus, mix: list) -> dict | None:
        """Session, the cold first ingest of the workload's log, then
        untimed warm-up: more ingests of the log for an ingest workload;
        for the untraced dashboard, the head of ``mix`` on the class
        table the cold ingest wrote, which is returned (else None)."""
        with self.tracer.span("setup"):
            with self.tracer.span("session.start"):
                self.start_session()
            out = self.fresh_out()
            with self.tracer.span("session.warmup"):
                self.ingest(corpus.log_path, out)
            dashboard = self.args.workload == "qan_dashboard"
            for _ in range(0 if dashboard else INGEST_WARMUP_PASSES):
                with self.tracer.span("setup.full_pass"):
                    self.ingest(corpus.log_path, self.fresh_out())
            if not dashboard or self.args.trace:
                return None
            table = self.open_table(out)
            for kind, params in mix[:WARMUP_QUERIES]:
                self.query(table["df"], kind, params)
            return table

    def open_table(self, out: str) -> dict:
        return {"dir": out, "df": self.spark.read.parquet(out)}

    def check_ingest(self, out: str, corpus) -> None:
        self.attempted += 1
        problems = check_class_table(out, corpus.truth())
        if problems:
            self.failed += 1
            self.problems += [f"ingest {out}: {p}" for p in problems]

    def check_queries(self, table: dict, answers: list) -> None:
        oracle = DashboardOracle(table["dir"])
        try:
            for kind, params, got in answers:
                self.attempted += 1
                want = oracle.answer(kind, params)
                if got is None or not same_rows(got, want):
                    self.failed += 1
                    if len(self.problems) < 10:
                        self.problems.append(f"query {kind} {params}: {got!r:.200} != {want!r:.200}")
        finally:
            oracle.close()

    def timed_ingests(self, corpus) -> tuple[list[float], list]:
        times, steal, outs = [], [], []
        t_end = time.perf_counter() + self.args.seconds
        attempts = 0
        while time.perf_counter() < t_end or attempts < MIN_OPS:
            attempts += 1
            out = self.fresh_out()
            s0 = cpu_steal_snapshot()
            t = time.perf_counter()
            try:
                self.ingest(corpus.log_path, out)
            except Exception as exc:  # a failed operation is counted, not fatal
                self.attempted += 1
                self.failed += 1
                self.problems.append(f"ingest raised {exc!r:.300}")
                continue
            times.append(time.perf_counter() - t)
            steal.append(cpu_steal_pct(s0, cpu_steal_snapshot()))
            outs.append(out)
        for out in outs:
            self.check_ingest(out, corpus)
            shutil.rmtree(out, ignore_errors=True)
        return times, steal

    def timed_queries(
        self, table: dict, mix: list, seconds: float, min_ops: int
    ) -> tuple[list, list]:
        times, steal, answers = [], [], []
        t_end = time.perf_counter() + seconds
        s0 = cpu_steal_snapshot()
        for kind, params in mix:
            if time.perf_counter() >= t_end and len(times) >= min_ops:
                break
            with self.tracer.span(f"query.{kind}"):
                t = time.perf_counter()
                try:
                    got = self.query(table["df"], kind, params)
                except Exception as exc:  # counted as a failed query
                    got = None
                    self.problems.append(f"query {kind} raised {exc!r:.300}")
                dt = time.perf_counter() - t
            times.append(dt)
            answers.append((kind, params, got))
            if len(times) % STEAL_WINDOW_QUERIES == 0 or len(times) == len(mix):
                s1 = cpu_steal_snapshot()
                steal += [cpu_steal_pct(s0, s1)] * (len(times) - len(steal))
                s0 = s1
        steal += [cpu_steal_pct(s0, cpu_steal_snapshot())] * (len(times) - len(steal))
        return times, steal, answers

    def stop(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers to end."""
        if self.spark is None:
            return
        pids = spans.descendants(os.getpid())
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while time.time() < deadline:
            alive = [p for p in pids if _alive(p)]
            if not alive:
                break
            time.sleep(0.2)
        for p in pids:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def dashboard_mix(truth: dict, seed: int, n: int = 30_000) -> list[tuple[str, dict]]:
    """The seeded query sequence: kinds in fixed rotation, so every run
    has the same proportions; days and digests drawn from the corpus."""
    digests = sorted({k.split("|")[0] for k in truth["classes"]})
    days = sorted({
        datetime.fromtimestamp(int(k.split("|")[1]), tz=timezone.utc).date().isoformat()
        for k in truth["classes"]
    })
    rng = random.Random(f"dashboard:{seed}")
    mix = []
    for i in range(n):
        kind = QUERY_KINDS[i % len(QUERY_KINDS)]
        if kind == "top":
            params = {"day": rng.choice(days), "k": 10}
        elif kind == "drilldown":
            params = {"digest": rng.choice(digests)}
        else:
            params = {"day": rng.choice(days), "dim": rng.choice(DIMENSIONS)}
        mix.append((kind, params))
    return mix


def steal_guarded_median(times: list[float], steal: list) -> tuple[float, int]:
    """Median over the operations whose window had at most STEAL_MAX_PCT
    hypervisor CPU steal (bench.py's retry rule); when fewer than half
    of them qualify, over the least-stolen half. Returns the median and
    the number of operations it covers."""
    clean = [t for t, s in zip(times, steal) if s is not None and s <= STEAL_MAX_PCT]
    if 2 * len(clean) < len(times):
        order = sorted(range(len(times)), key=lambda i: 100.0 if steal[i] is None else steal[i])
        clean = [times[i] for i in order[: max(1, len(times) // 2)]]
    return statistics.median(clean), len(clean)


def end_to_end_metrics(setup_s: float, op_median_s: float) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_ms": {"value": op_median_s * 1000.0, "unit": "ms"},
    }


def run_untraced(run: Run, corpus) -> tuple[dict, dict]:
    truth = corpus.truth()
    mix = dashboard_mix(truth, run.args.seed) if run.args.workload == "qan_dashboard" else []
    t0 = time.perf_counter()
    table = run.setup(corpus, mix)
    setup_s = time.perf_counter() - t0
    if table is None:
        times, steal = run.timed_ingests(corpus)
        run.stop()
    else:
        times, steal, answers = run.timed_queries(
            table, mix[WARMUP_QUERIES:], run.args.seconds, MIN_OPS
        )
        run.stop()
        run.check_ingest(table["dir"], corpus)  # the set-up ingest
        run.check_queries(table, answers)
    op_median, clean = steal_guarded_median(times, steal)
    report = {
        "setup_s": setup_s,
        "op_steal_pct": steal,
        "op_p50_all_ms": statistics.median(times) * 1000.0,
        "op_p50_clean_ops": clean,
    }
    if table is None:
        report.update({
            "ingests": len(times),
            "ingest_s": times,
            "ingest_events_per_s": truth["events"] / op_median,
            "ingest_mb_per_s": truth["log_bytes"] / 1e6 / op_median,
        })
    else:
        p95 = statistics.quantiles(times, n=20, method="inclusive")[18]
        report.update({
            "queries": len(times),
            "query_ms": [round(t * 1000.0, 1) for t in times],
            "query_p50_ms": statistics.median(times) * 1000.0,
            "query_p95_ms": p95 * 1000.0,
            "samples_beyond_p95": sum(t > p95 for t in times),
        })
    return end_to_end_metrics(setup_s, op_median), report


def run_traced(run: Run, corpus) -> tuple[dict, dict]:
    tr = run.tracer
    run.setup(corpus, [])
    # the ladder: cumulative prefixes, repeated while --seconds lasts
    t_end = time.perf_counter() + run.args.seconds
    rep = 0
    while rep < MIN_LADDER_REPS or time.perf_counter() < t_end:
        out = run.fresh_out()
        with tr.span("ladder"):
            # alternate the order so warm-up drift does not favour a rung
            for rung in RUNGS if rep % 2 == 0 else reversed(RUNGS):
                with tr.span(f"rung.{rung}"):
                    run.ladder_rung(rung, corpus.log_path, out)
        rep += 1
    run.check_ingest(out, corpus)
    # counts the pipeline does not expose, measured by separate jobs
    with tr.span("trace.counts"):
        counts = layer_counts(run, corpus, out)
    table = run.open_table(out)
    seconds = run.args.seconds if run.args.workload == "qan_dashboard" else 0
    with tr.span("dashboard"):
        _, _, answers = run.timed_queries(
            table, dashboard_mix(corpus.truth(), run.args.seed), seconds, TRACE_QUERIES
        )
    rss = spans.peak_rss_mb([os.getpid()] + spans.descendants(os.getpid()))
    run.stop()
    run.check_queries(table, answers)
    with tr.span("trace.eventlog"):
        totals = spans.event_log_totals(run.event_log_dir, tr.spans)
        shutil.rmtree(run.event_log_dir, ignore_errors=True)
    overhead = sum(s.seconds for s in tr.spans if s.name.startswith("trace."))
    metrics = layer_metrics(tr, corpus.truth(), counts, totals, rss, overhead)
    tr.write(os.path.join(WORK, "traces", f"{run.run_id}.json"))
    return metrics, {"ladder_reps": rep, "queries": len(answers)}


def layer_counts(run: Run, corpus, out: str) -> dict:
    records = read_slowlog_records(run.spark, corpus.log_path).count()
    events_df = parse_slowlog(run.spark, corpus.log_path)
    events = events_df.count()
    udf_rows = 0
    if run.mode == "routed":
        udf_rows = events_df.where(
            F.coalesce(any_construct_flag(F.col("query")), F.lit(False))
        ).count()
    files = [
        os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")
    ]
    return {
        "records": records,
        "events": events,
        "udf_rows": udf_rows,
        "sink_files": len(files),
        "sink_bytes": sum(os.path.getsize(f) for f in files),
    }


def layer_metrics(
    tr, truth: dict, counts: dict, totals: dict, rss: float, overhead_s: float
) -> dict:
    med = {r: statistics.median(s.seconds for s in tr.named(f"rung.{r}")) for r in RUNGS}
    last = {r: totals.get(id(tr.named(f"rung.{r}")[-1]), spans.SpanTotals()) for r in RUNGS}
    queries = {k: [s.seconds * 1000.0 for s in tr.named(f"query.{k}")] for k in QUERY_KINDS}
    n_queries = sum(len(v) for v in queries.values())
    files_read = sum(
        totals.get(id(s), spans.SpanTotals()).files_read
        for k in QUERY_KINDS for s in tr.named(f"query.{k}")
    )
    classes = len(truth["classes"])
    events, records = counts["events"], counts["records"]
    m = {
        "session.start_s": (tr.named("session.start")[0].seconds, "s"),
        "session.warmup_s": (tr.named("session.warmup")[0].seconds, "s"),
        "sources.slowlog.split_s": (med["split"], "s"),
        "sources.slowlog.records": (records, "count"),
        "sources.slowlog.parse_s": (med["parse"] - med["split"], "s"),
        "sources.slowlog.events": (events, "count"),
        "sources.slowlog.rejected": (records - events, "count"),
        "sources.slowlog.event_yield": (events / records, "ratio"),
        "sources.slowlog.arrow_rows": (last["parse"].python_output_rows, "count"),
        "functions.fingerprint.fingerprint_s": (med["fingerprint"] - med["parse"], "s"),
        "functions.fingerprint.udf_rows": (counts["udf_rows"], "count"),
        "functions.fingerprint.udf_share": (counts["udf_rows"] / events, "ratio"),
        "functions.fingerprint.digest_s": (med["digest"] - med["fingerprint"], "s"),
        "plans.pipeline.aggregate_s": (med["aggregate"] - med["digest"], "s"),
        "plans.pipeline.classes": (classes, "count"),
        "plans.pipeline.events_per_class": (truth["class_events"] / classes, "events/class"),
        "plans.pipeline.aggregate_shuffle_bytes": (
            last["aggregate"].shuffle_write_bytes, "bytes"),
        "plans.pipeline.spill_bytes": (last["sink"].spill_bytes, "bytes"),
        "plans.pipeline.sink_s": (med["sink"] - med["aggregate"], "s"),
        "plans.pipeline.sink_bytes": (counts["sink_bytes"], "bytes"),
        "plans.pipeline.sink_files": (counts["sink_files"], "count"),
        "plans.pipeline.sink_bytes_per_class": (
            counts["sink_bytes"] / classes, "bytes/class"),
        "query.top_ms": (statistics.median(queries["top"]), "ms"),
        "query.drilldown_ms": (statistics.median(queries["drilldown"]), "ms"),
        "query.dimensions_ms": (statistics.median(queries["dimensions"]), "ms"),
        "query.files_scanned_share": (
            files_read / (n_queries * counts["sink_files"]), "ratio"),
        "process.peak_rss_mb": (rss, "MB"),
        "trace.overhead_s": (overhead_s, "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _prepare_environment()
    steal0, load0 = cpu_steal_snapshot(), os.getloadavg()[0]
    kind = WORKLOADS[args.workload][0]
    cache = os.path.join(WORK, "corpora")
    corpus = corpora.build(kind, args.seed, N_EVENTS, cache)

    run = Run(args)
    try:
        if args.trace:
            metrics, report = run_traced(run, corpus)
        else:
            metrics, report = run_untraced(run, corpus)
    finally:
        run.stop()
        shutil.rmtree(run.out_root, ignore_errors=True)
    truth = corpus.truth()
    report.update({
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "corpus": {k: truth[k] for k in ("log_bytes", "records", "events", "rejected", "admin")},
        "attempted": run.attempted,
        "failed": run.failed,
        "ops_failed_ratio": run.failed / max(run.attempted, 1),
        "problems": run.problems,
        "host": _host_stamp(cpu_steal_pct(steal0, cpu_steal_snapshot()), load0),
    })
    report["units"] = {k: REPORT_UNITS[k] for k in report if k in REPORT_UNITS}
    print(json.dumps(report, default=str))
    correct = run.failed == 0 and not run.problems
    print(json.dumps({
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
