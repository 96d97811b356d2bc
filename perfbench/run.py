#!/usr/bin/env python3
"""The repository benchmark: one workload of registered queries, timed
end to end in a fresh Spark process, every result strict-checked
against its DuckDB oracle.

    python3 perfbench/run.py --workload tpc_sql --seed 1 --seconds 5 --trace 0

Load model: one process, closed loop, one query at a time, on
``local[nproc]`` with the engine's own ``get_session`` defaults.  The
input tables are the fixed parquet files under ``perfbench/data``; the
seed only sets the order of the queries within each pass.  The first
pass runs in the fresh session (cold); after one warm-up pass, warm
passes follow until ``--seconds`` have passed since the warm-up and at
least two warm passes are done.

The timed action is ``spec.fn(spark, data).toPandas()``: the frame a
user receives.  It is compared with the oracle's frame
(``compare_frames(..., strict=True)``) after the timer stops.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of ``tracing.py``
and the run also writes its span tree.  Each run writes a record with
every sample and the host context to ``perfbench/out/``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
DEFAULT_DATA = BENCH / "data" / "sf0.01"
#: Passes after the cold one that only warm the JIT and codegen caches;
#: the warm passes that are measured follow them.
WARMUP_PASSES = 1
MIN_WARM_PASSES = 2

#: Workload → the registered queries of one pass.  BENCHMARK.json says
#: why each workload was chosen; README.md says which layer each stresses.
#: Passes are kept to a few queries so that a whole run (a fresh JVM,
#: ~17 s of set-up, a cold and two warm passes) stays near 40 s on a
#: 4-core host.
WORKLOADS = {
    "tpc_sql": (
        "q1_pricing_summary", "qds5_channel_rollup",
        "qds16_multi_site_no_returns", "qds94_web_no_returns",
        "qds95_both_sites_view",
    ),
    "llm_pipeline": ("dedup_minhash_lsh", "workload_pi", "stream_dedup_ids"),
}

#: Per-execution readings summed over a pass (traced runs).
_SUMMED = (
    "build_s", "build.py4j_calls", "build.jobs", "plan_s", "plan.nodes",
    "plan.exchanges", "plan.final_exchanges", "exec_s", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.task_s", "exec.cpu_s", "exec.gc_s",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
    "stream.drain_s", "stream.batches", "stream.trigger_s",
    "stream.add_batch_s", "stream.plan_s", "stream.log_s",
    "stream.state_commit_s",
)
#: Per-execution readings whose pass value is the maximum over queries.
_MAXED = ("cache.persisted_after", "stream.state_rows")
#: Counts whose exact repetition across warm passes is reported.
_COUNTS = (
    "build.py4j_calls", "build.jobs", "plan.nodes", "plan.exchanges",
    "plan.final_exchanges", "exec.jobs", "exec.stages", "exec.tasks",
    "cache.persisted_after", "stream.batches", "stream.state_rows",
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", type=Path, default=DEFAULT_DATA,
                    help="directory of the input parquet tables")
    ap.add_argument("--corrupt", metavar="QUERY",
                    help="drop the last row of QUERY's result before the "
                         "check (proves a wrong result counts as failed)")
    return ap.parse_args(argv)


def cpu_probe() -> float:
    """Wall time of a fixed single-thread integer loop: host context
    only, never used to scale a metric."""
    start = time.perf_counter()
    x = 0x9E3779B97F4A7C15
    for _ in range(500_000):
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
    return time.perf_counter() - start


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs, since
    boot): host context only."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def isolate(work: Path, cpus: int) -> None:
    """Point every file the engine, Spark and its Python workers write
    at ``work``, and make the repository importable by those workers,
    before the JVM starts."""
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_LOCAL_DIRS"] = str(work / "local")
    env["TMPDIR"] = str(work / "tmp")
    env["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (env.get("SPARK_SUBMIT_OPTS"),
                    f"-Djava.io.tmpdir={work / 'tmp'}") if p)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(work)
    sys.path[:0] = [str(REPO), str(BENCH)]


def set_up(data: Path):
    """Session, registry and one scan of every table; the set-up a
    user pays before the first query."""
    from splitserve_spark.session import get_session

    spark = get_session("perfbench")
    t_session = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    from splitserve_spark.registry import load_all

    registry = load_all()
    t_registry = time.perf_counter()
    from splitserve_spark.tables import TABLE_NAMES, Tables

    tables = Tables(spark, str(data))
    for name in TABLE_NAMES:
        getattr(tables, name).count()
    t_tables = time.perf_counter()
    return spark, registry, {
        "setup_s": t_tables - _T0,
        "setup.session_s": t_session - _T0,
        "setup.registry_s": t_registry - t_session,
        "setup.tables_s": t_tables - t_registry,
    }


def tear_down() -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


class Tracer:
    """The traced run's instruments: job groups, py4j counts, status
    store, streaming listener and spans."""

    def __init__(self, spark):
        from tracing import Py4jCounter, Spans, StreamProgress

        self.sc = spark.sparkContext
        self.spans = Spans(_T0)
        self.py4j = Py4jCounter(self.sc._gateway._gateway_client)
        self.progress = StreamProgress()
        spark.streams.addListener(self.progress)
        self._bus = self.sc._jsc.sc().listenerBus()

    def flush(self) -> None:
        """Wait until Spark's listeners (status store, streaming
        listener) have seen every event posted so far."""
        self._bus.waitUntilEmpty()

    def group_jobs(self, group: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))


class Bench:
    def __init__(self, spark, registry, data: Path, tracer: Tracer | None,
                 corrupt: str | None):
        from tests.oracle_utils import duck_connection

        self.spark, self.registry, self.data = spark, registry, str(data)
        self.tracer, self.corrupt = tracer, corrupt
        self._duck = duck_connection(self.data)
        self._oracle = {}

    def close(self) -> None:
        self._duck.close()

    def verify(self, name: str, pdf) -> None:
        from tests.oracle_utils import compare_frames

        if name == self.corrupt:
            pdf = pdf.iloc[:-1]
        oracle_sql = self.registry[name].oracle
        if oracle_sql is None:
            raise RuntimeError(f"{name} has no oracle to check against")
        if name not in self._oracle:
            self._oracle[name] = self._duck.execute(oracle_sql).df()
        compare_frames(pdf, self._oracle[name], name, strict=True)

    def run_query(self, name: str, pass_idx: int, parent) -> dict:
        rec = {"pass": pass_idx, "query": name, "ok": False, "error": None}
        try:
            if self.tracer is None:
                t0 = time.perf_counter()
                try:
                    pdf = self.registry[name].fn(self.spark, self.data).toPandas()
                finally:
                    rec["latency_s"] = time.perf_counter() - t0
                self.verify(name, pdf)
            else:
                self._traced(name, pass_idx, parent, rec)
            rec["ok"] = True
        except Exception as exc:
            rec["error"] = f"{type(exc).__name__}: {exc}"[:2000]
            print(f"# FAILED {name} (pass {pass_idx}): {rec['error']}",
                  file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        return rec

    def _traced(self, name: str, pass_idx: int, parent, rec: dict) -> None:
        """Time build, plan and execute separately; read the layer facts
        between the phases, outside their timers."""
        from tracing import count_exchanges, plan_nodes, stage_facts, stream_facts

        tr, sc = self.tracer, self.spark.sparkContext
        group = f"{name}#{pass_idx}"
        sc.setJobGroup(group, name)
        rec["latency_s"] = 0.0
        with tr.spans.span(name, parent) as qspan:
            try:
                with tr.spans.span("build", qspan):
                    t0 = time.perf_counter()
                    try:
                        with tr.py4j.count():
                            df = self.registry[name].fn(self.spark, self.data)
                    finally:
                        rec["build_s"] = time.perf_counter() - t0
                        rec["latency_s"] += rec["build_s"]
                        rec["build.py4j_calls"] = tr.py4j.calls
                tr.flush()
                build_jobs = tr.group_jobs(group)
                with tr.spans.span("plan", qspan):
                    t0 = time.perf_counter()
                    plan = df._jdf.queryExecution().executedPlan()
                    rec["plan_s"] = time.perf_counter() - t0
                    rec["latency_s"] += rec["plan_s"]
                    nodes = plan_nodes(plan.toString())
                with tr.spans.span("execute", qspan):
                    t0 = time.perf_counter()
                    try:
                        pdf = df.toPandas()
                    finally:
                        rec["exec_s"] = time.perf_counter() - t0
                        rec["latency_s"] += rec["exec_s"]
                final = plan_nodes(
                    df._jdf.queryExecution().executedPlan().toString())
            finally:
                tr.flush()
                events = tr.progress.take()
            exec_jobs = tr.group_jobs(group) - build_jobs
            build_st = stage_facts(sc, build_jobs)
            exec_st = stage_facts(sc, exec_jobs)
            rec.update({
                "build.jobs": len(build_jobs),
                "plan.nodes": len(nodes),
                "plan.exchanges": count_exchanges(nodes),
                "plan.final_exchanges": count_exchanges(final),
                "exec.jobs": len(exec_jobs),
                "exec.stages": exec_st["stages_run"],
                "exec.tasks": exec_st["tasks"],
                **{f"exec.{k}": exec_st[k] for k in (
                    "task_s", "cpu_s", "gc_s", "shuffle_write_mb",
                    "shuffle_read_mb", "spill_mb")},
                "stages_run": build_st["stages_run"] + exec_st["stages_run"],
                "stages_skipped":
                    build_st["stages_skipped"] + exec_st["stages_skipped"],
                "cache.persisted_after": sc._jsc.getPersistentRDDs().size(),
                **stream_facts(events),
                "stream.drain_s": rec["build_s"] if events else 0.0,
            })
            with tr.spans.span("verify", qspan):
                self.verify(name, pdf)


def median(values):
    return statistics.median(values) if values else 0.0


def p90(values):
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def layer_metrics(execs: list[dict], warm: list[int], cores: int) -> dict:
    """Per-pass sums (maxima for _MAXED), then the median over warm passes."""
    per_pass = []
    for p in warm:
        recs = [r for r in execs if r["pass"] == p and "build_s" in r]
        row = {k: sum(r.get(k, 0) for r in recs) for k in _SUMMED}
        row.update({k: max((r.get(k, 0) for r in recs), default=0)
                    for k in _MAXED})
        run = sum(r.get("stages_run", 0) for r in recs)
        skipped = sum(r.get("stages_skipped", 0) for r in recs)
        row["cache.reuse_frac"] = skipped / (run + skipped) if run + skipped else 0.0
        row["exec.core_util"] = (row["exec.task_s"] / (row["exec_s"] * cores)
                                 if row["exec_s"] else 0.0)
        row["stream.idle_s"] = row["stream.drain_s"] - row["stream.trigger_s"]
        row["trace.pass_s"] = sum(r["latency_s"] for r in recs)
        per_pass.append(row)
    return {k: median([row[k] for row in per_pass]) for k in per_pass[0]}


def count_stability(execs: list[dict], warm: list[int]) -> dict:
    """For each count, the queries whose value did not repeat exactly
    across warm passes (with their values) and the number that did."""
    out = {}
    for key in _COUNTS:
        values: dict[str, list] = {}
        for r in execs:
            if r["pass"] in warm and key in r:
                values.setdefault(r["query"], []).append(r[key])
        varying = {q: v for q, v in values.items() if len(set(v)) > 1}
        out[key] = {"exact": len(values) - len(varying), "varying": varying}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not __debug__:
        sys.exit("perfbench: the oracle comparison uses assert; run without -O")
    if not (REPO / "splitserve_spark").is_dir():
        sys.exit(f"perfbench: no engine source at {REPO / 'splitserve_spark'}")
    data = args.data.resolve()
    if not (data / "lineitem.parquet").is_file():
        sys.exit(f"perfbench: no input tables in {data}")
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    host = {"nproc": len(os.sched_getaffinity(0)),
            "loadavg_before": os.getloadavg(), "steal_s_before": steal_s()}
    work = BENCH / ".work" / str(os.getpid())
    isolate(work, host["nproc"])
    try:
        spark, registry, setup = set_up(data)
        result = measure(args, spark, registry, data, setup, host, units)
    finally:
        if "pyspark" in sys.modules:
            tear_down()
        os.chdir(BENCH)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def measure(args, spark, registry, data, setup, host, units) -> dict:
    queries = WORKLOADS[args.workload]
    tracer = Tracer(spark) if args.trace else None
    bench = Bench(spark, registry, data, tracer, args.corrupt)
    rng = random.Random(args.seed)
    execs, pass_s = [], []

    def span(name, parent):
        return tracer.spans.span(name, parent) if tracer else nullcontext()

    def run_pass(root) -> None:
        order = list(queries)
        rng.shuffle(order)
        p = len(pass_s)
        with span(f"pass:{p}", root) as pid:
            recs = [bench.run_query(q, p, pid) for q in order]
        execs.extend(recs)
        pass_s.append(sum(r["latency_s"] for r in recs))
        print(f"# pass {p}: {pass_s[-1]:.3f}s", file=sys.stderr)

    try:
        with span(f"workload:{args.workload}", None) as root:
            for _ in range(1 + WARMUP_PASSES):  # the cold pass, then warm-up
                run_pass(root)
            start = time.perf_counter()
            while (len(pass_s) < 1 + WARMUP_PASSES + MIN_WARM_PASSES
                   or time.perf_counter() - start < args.seconds):
                run_pass(root)
    finally:
        bench.close()
    warm = list(range(1 + WARMUP_PASSES, len(pass_s)))
    samples = [r["latency_s"] for r in execs if r["pass"] in warm and r["ok"]]
    failed = sum(not r["ok"] for r in execs)
    rss_mb = jvm_peak_rss_mb()
    host["cpu_probe_s"] = min(cpu_probe() for _ in range(3))
    host["loadavg_after"] = os.getloadavg()
    host["steal_s_after"] = steal_s()
    if tracer:
        metrics = {k: setup[k] for k in
                   ("setup.session_s", "setup.registry_s", "setup.tables_s")}
        metrics.update(layer_metrics(execs, warm, host["nproc"]))
        metrics["jvm.peak_rss_mb"] = rss_mb
        stability = count_stability(execs, warm)
        metrics["counts.varying"] = sum(
            len(v["varying"]) for v in stability.values())
    else:
        metrics = {
            "setup_s": setup["setup_s"],
            "cold_pass_s": pass_s[0],
            "pass_s": median([pass_s[p] for p in warm]),
            "query_p50_s": median(samples),
            "query_p90_s": p90(samples),
        }
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "data": str(data), "host": host, "setup": setup, "metrics": metrics,
        "pass_times_s": pass_s, "warmup_passes": WARMUP_PASSES,
        "warm_samples": len(samples),
        "jvm_peak_rss_mb": rss_mb,
        "executions": execs,
    }
    if tracer:
        record["count_stability"] = stability
        record["spans"] = tracer.spans.items
    out = BENCH / "out"
    out.mkdir(exist_ok=True)
    path = out / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    path.write_text(json.dumps(record, indent=1, default=str))
    print(f"# {len(execs)} executions, {failed} failed, {len(samples)} warm "
          f"samples; host {json.dumps(host)}; record {path}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": len(execs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
