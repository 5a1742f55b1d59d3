"""The repository benchmark: closed-loop, single-client workloads over the
public pipeline and registry entry points, in one process on local[N].

    python3 perfbench/run.py --workload daily_backfill --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``daily_backfill``: ``pipeline.ingest_day`` → ``build_fact`` →
  ``build_dims`` → ``build_marts`` (what ``run_day`` calls) for each of
  DAYS seeded 16k-row days; every pass re-runs the same dates, so the
  idempotent partition overwrite keeps the warehouse identical.
- ``driver_bound``: the three registry queries with the most jobs, each
  built by its ``__spark_entry__.queries()`` function and forced with the
  noop sink, over a seeded ``events`` table; the seed also sets each
  pass's query order.

A run: start the session, generate inputs, warm up (all of it is
``setup_s``); then whole passes — at least MIN_PASSES, then more while
one is expected to end within ``--seconds``; then the output checks.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
traced and untraced passes and prints the per-layer metrics. The last
stdout line is the result JSON; the line before it is the full record
(commit, seed, cores, heap, input sizes, per-op samples), and the
record with its spans goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import socket
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: local[N]: at most 4 cores, never more than this process may use
CORES = min(4, len(os.sched_getaffinity(0)))
SHUFFLE_PARTITIONS = 8
HEAP = "2g"
MIN_PASSES = 3

DAYS = 1
ROWS_PER_DAY = 16_000
EVENTS_ROWS = 20_000

#: the three registry queries with the most jobs (32–36 each), with the
#: table each one scans; streaming_decayed is also a replay path
QUERIES = {
    "psi_drift": "events",
    "robust_value_stats": "events",
    "streaming_decayed": "events",
}
STAGES = ("ingest_day", "build_fact", "build_dims", "build_marts")
WORKLOADS = ("daily_backfill", "driver_bound")


def contamination(ports=range(4040, 4057)) -> str | None:
    """A live Spark UI port means another Spark driver shares the cores
    (the rule bench.py's ``_contamination_reason`` applies)."""
    live = []
    for port in ports:
        with socket.socket() as s:
            s.settimeout(0.05)
            if s.connect_ex(("127.0.0.1", port)) == 0:
                live.append(port)
    return f"live Spark UI port(s) {live}" if live else None


def cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot: the share of time
    the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def source_identity() -> dict:
    """Commit when the checkout is a git work tree, plus a digest of the
    program sources, which identifies the code either way."""
    digest = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")] + sorted(
        glob.glob(os.path.join(ROOT, "airflow_retail_etl_spark", "**", "*.py"),
                  recursive=True)
    )
    for path in files:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    return {"commit": commit, "source_sha256": digest.hexdigest()}


def prepare_environment(work: str) -> None:
    """JVM flags and scratch locations; must run before pyspark starts
    the JVM. Xms=Xmx plus AlwaysPreTouch commits the heap up front
    (lazily committed heaps gave bimodal timings, CLAUDE.md); every
    scratch path stays inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-memory {HEAP}",
        f"--conf spark.driver.extraJavaOptions=-Xms{HEAP}\\ "
        f"-XX:+AlwaysPreTouch\\ -XX:-UsePerfData\\ -Djava.io.tmpdir={tmp}",
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        "pyspark-shell",
    ])


def drop_persistent_blocks(spark) -> None:
    """Unpersist every tracked RDD between operations (the hygiene
    bench.py's ``_drop_persistent_blocks`` applies), so one query's
    checkpoints do not age the session for the next."""
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(False)


def dir_bytes(*roots: str) -> tuple[int, int]:
    """(data files, bytes) of the parquet files under ``roots``."""
    files = [p for r in roots
             for p in glob.glob(os.path.join(r, "**", "*.parquet"), recursive=True)]
    return len(files), sum(os.path.getsize(p) for p in files)


class Pipeline:
    """daily_backfill: DAYS days of ROWS_PER_DAY rows per pass."""

    def __init__(self, spark, tracer, work: str, seed: int):
        from airflow_retail_etl_spark import pipeline
        import gen

        self.spark, self.tracer, self.pipeline = spark, tracer, pipeline
        self.dates = gen.day_dates(DAYS)
        raw = os.path.join(work, "raw")
        self.csv_bytes = gen.write_retail_days(raw, seed, self.dates, ROWS_PER_DAY)
        self.rows = {d: ROWS_PER_DAY for d in self.dates}
        self.cfg = pipeline.PipelineConfig(
            raw_root=raw,
            warehouse_root=os.path.join(work, "warehouse"),
            mart_root=os.path.join(work, "mart"),
        )

    def inputs(self) -> dict:
        return {"days": len(self.dates), "rows_per_day": ROWS_PER_DAY,
                "csv_bytes": self.csv_bytes}

    def rows_per_pass(self) -> int:
        return sum(self.rows.values())

    def ops(self, pass_no: int):
        return [(date, self._day) for date in self.dates]

    def warm_up(self) -> None:
        for _ in range(2):
            for date in self.dates:
                self._day(date)

    def _day(self, date: str) -> None:
        p, cfg = self.pipeline, self.cfg
        for stage in STAGES:
            with self.tracer.span(stage, "stage"):
                getattr(p, stage)(self.spark, cfg, date)

    def check(self) -> dict[str, list[str]]:
        import checks

        return checks.check_pipeline(self.cfg.raw_root, self.cfg.warehouse_root,
                                     self.cfg.mart_root, self.rows)

    def io_metrics(self) -> dict:
        files, stored = dir_bytes(self.cfg.warehouse_root, self.cfg.mart_root)
        return {"io.files_written": files,
                "io.stored_bytes_per_input_byte": stored / sum(self.csv_bytes.values())}


class Registry:
    """driver_bound: the QUERIES over a seeded events table."""

    def __init__(self, spark, tracer, work: str, seed: int):
        import __spark_entry__
        import gen

        self.spark, self.tracer = spark, tracer
        self.sf_dir = os.path.join(work, "tables")
        self.table_bytes = {"events": gen.write_events_table(self.sf_dir, seed, EVENTS_ROWS)}
        self.table_rows = {"events": EVENTS_ROWS}
        registry = __spark_entry__.queries()
        self.fns = {q: registry[q] for q in QUERIES}
        self.rng = random.Random(seed)
        self.results: dict = {}
        self.plans = None  # a PlanListener while tracing

    def inputs(self) -> dict:
        return {"tables": self.table_rows, "table_bytes": self.table_bytes}

    def rows_per_pass(self) -> int:
        return sum(self.table_rows[t] for t in QUERIES.values())

    def ops(self, pass_no: int):
        order = list(QUERIES)
        self.rng.shuffle(order)
        return [(q, self._query) for q in order]

    def warm_up(self) -> None:
        """One call of each query, CORES at a time — warm-up only has to
        fill the JIT and codegen caches, and the cold calls are
        driver-bound — each collected for the output check, which runs
        after the timed window; then a tiny noop write so the sink's own
        code path is warm too."""
        from concurrent.futures import ThreadPoolExecutor

        def collect(name):
            try:
                return name, self.fns[name](self.spark, self.sf_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 — reported by the check
                print(f"warm-up {name}: {exc!r}", file=sys.stderr)
                return name, None

        with ThreadPoolExecutor(max_workers=CORES) as pool:
            self.results = dict(pool.map(collect, QUERIES))
        drop_persistent_blocks(self.spark)
        self.spark.range(8).write.format("noop").mode("overwrite").save()

    def _query(self, name: str) -> None:
        tr = self.tracer
        with tr.span("build", "build"):
            df = self.fns[name](self.spark, self.sf_dir)
        start = time.time()
        df.write.format("noop").mode("overwrite").save()
        end = time.time()
        if tr.enabled:
            # plan and sink are filled in from the listener's phases once
            # the pass is over; remember the call window for that
            tr.add("sink-call", "sink-call", start, end)

    def split_sink_calls(self) -> None:
        """Turn each recorded noop-save window into a plan span (the
        Catalyst phases of the write's query execution) and a sink span
        (the rest of the call, i.e. execution)."""
        for s in self.tracer.spans:
            if s["kind"] != "sink-call":
                continue
            s["kind"] = s["name"] = "sink"
            window = self.plans.phases_within(s["start"], s["end"])
            if window is not None:
                plan_lo, plan_hi = window
                self.tracer.add("plan", "plan", plan_lo, plan_hi, parent=s["parent"])
                s["start"] = plan_hi

    def check(self) -> dict[str, list[str]]:
        import checks

        return checks.check_queries(self.sf_dir, list(self.table_rows), self.results)

    def io_metrics(self) -> dict:
        return {"io.files_written": 0, "io.stored_bytes_per_input_byte": 0.0}


def run_pass(wl, tracer, pass_no: int, ops_log: list) -> dict:
    start = time.perf_counter()
    with tracer.span(f"pass{pass_no}", "pass") as pass_span:
        for name, fn in wl.ops(pass_no):
            t0 = time.perf_counter()
            error = None
            with tracer.span(name, "op"):
                try:
                    fn(name)
                except Exception as exc:  # noqa: BLE001 — a failed op is counted
                    error = repr(exc)
            ops_log.append({"op": name, "pass": pass_no, "traced": tracer.enabled,
                            "s": time.perf_counter() - t0, "error": error})
            drop_persistent_blocks(wl.spark)
    return {"pass": pass_no, "traced": tracer.enabled,
            "s": time.perf_counter() - start,
            "span": pass_span["id"] if pass_span else None}


def end_to_end(wl, passes, ops_log, setup_s: float) -> dict:
    pass_s = statistics.median(p["s"] for p in passes)
    op_s = [o["s"] for o in ops_log]
    # no tail metric: with 4-9 operations a run, no percentile has ten
    # samples beyond it, and the maximum alone spread by ~20% across runs
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "op_p50_s": (statistics.median(op_s), "s"),
        "rows_per_s": (wl.rows_per_pass() / pass_s, "rows/s"),
    }, {"op_samples": len(op_s), "op_max_s": max(op_s)}


def per_layer(wl, tracer, passes, spark) -> tuple[dict, dict]:
    import spans

    spans.drain_listener_bus(spark)
    if isinstance(wl, Registry):
        wl.split_sink_calls()
    store = spans.StatusStore(spark)
    jobs, stages = store.jobs(), store.stages()
    traced = [tracer.spans[p["span"]] for p in passes if p["traced"]]
    untraced = [p["s"] for p in passes if not p["traced"]]
    per_pass = [spans.pass_spark_metrics(store, jobs, stages, s, CORES) for s in traced]
    out = {k: spans.median(m[k] for m in per_pass) for k in per_pass[0]}

    def spans_of(kind, name=None):
        return [s for p in traced for s in tracer.subtree(p["id"])
                if s["kind"] == kind and (name is None or s["name"] == name)]

    def dur(s):
        return s["end"] - s["start"]

    def n_jobs(s):
        return sum(1 for j in jobs if s["start"] <= j["start"] <= s["end"])

    for stage in STAGES:
        got = spans_of("stage", stage)
        out[f"pipeline.{stage}.s"] = spans.median(dur(s) for s in got)
        out[f"pipeline.{stage}.jobs"] = spans.median(n_jobs(s) for s in got)
    for q in QUERIES:
        got = spans_of("op", q)
        out[f"q.{q}.s"] = spans.median(dur(s) for s in got)
        out[f"q.{q}.jobs"] = spans.median(n_jobs(s) for s in got)

    def per_pass_sum(kind, measure):
        return spans.median(
            sum(measure(s) for s in tracer.subtree(p["id"]) if s["kind"] == kind)
            for p in traced
        )

    out["entry.build_s"] = per_pass_sum("build", dur)
    out["entry.pin_jobs"] = per_pass_sum("build", n_jobs)
    out["entry.plan_s"] = per_pass_sum("plan", dur)
    out["entry.sink_s"] = per_pass_sum("sink", dur)
    out["trace.pass_self_s"] = per_pass_sum("pass", tracer.self_time)
    out["trace.op_self_s"] = per_pass_sum("op", tracer.self_time)
    errs = []
    for p in traced:
        total = sum(tracer.self_time(s) for s in tracer.subtree(p["id"]))
        errs.append(abs(total - dur(p)) / dur(p))
    out["trace.selftime_sum_err"] = max(errs)
    out["trace.pass_s"] = spans.median(dur(p) for p in traced)
    out["trace.overhead_frac"] = (
        out["trace.pass_s"] / statistics.median(untraced) - 1.0
    )
    out.update(wl.io_metrics())
    units = {}
    for k in out:
        if k.endswith(".jobs") or k in ("spark.jobs", "entry.pin_jobs", "io.files_written"):
            units[k] = "count"
        elif k.endswith("_bytes") or k == "io.bytes_written":
            units[k] = "bytes"
        elif k.endswith("_s") or k.endswith(".s"):
            units[k] = "s"
        else:
            units[k] = "ratio"
    return {k: (v, units[k]) for k, v in out.items()}, {"self_time_err_per_pass": errs}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    # fail fast, before any output, when the program is not beside us
    import airflow_retail_etl_spark  # noqa: F401
    import __spark_entry__  # noqa: F401

    contaminated = contamination()
    if contaminated:
        print(f"perfbench: contaminated run: {contaminated}", file=sys.stderr)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_environment(work)

    from airflow_retail_etl_spark.session import get_spark
    import pyspark
    import spans

    spark = None
    try:
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          master=f"local[{CORES}]",
                          shuffle_partitions=SHUFFLE_PARTITIONS)
        spark.sparkContext.setLogLevel("ERROR")
        tracer = spans.Tracer()
        cls = Pipeline if args.workload == "daily_backfill" else Registry
        wl = cls(spark, tracer, work, args.seed)
        wl.warm_up()
        setup_s = time.perf_counter() - T_START

        if args.trace and isinstance(wl, Registry):
            wl.plans = spans.register_plan_listener(spark)
        passes, ops_log = [], []
        window = time.perf_counter()
        steal0, total0 = cpu_counters()

        def more() -> bool:
            """Whole passes: at least MIN_PASSES measured ones, then
            another only while it is expected to end within --seconds."""
            measured = [p for p in passes if p["traced"] == bool(args.trace)]
            return (len(measured) < MIN_PASSES
                    or time.perf_counter() - window + passes[-1]["s"] <= args.seconds)

        while more():
            # a traced run alternates traced and untraced passes, so the
            # tracing overhead is not confounded with the JIT still warming
            tracer.enabled = bool(args.trace) and len(passes) % 2 == 0
            passes.append(run_pass(wl, tracer, len(passes), ops_log))
        steal1, total1 = cpu_counters()
        # like a live Spark UI, CPU taken by the host skews every timing
        host_steal = (steal1 - steal0) / max(1, total1 - total0)
        if host_steal > 0.05:
            print(f"perfbench: host took {host_steal:.0%} of CPU time while "
                  "timing", file=sys.stderr)

        problems = wl.check()
        bad = {k for k, v in problems.items() if v}
        failed = sum(1 for o in ops_log if o["error"] or o["op"] in bad)
        if args.trace:
            metrics, extra = per_layer(wl, tracer, passes, spark)
        else:
            metrics, extra = end_to_end(wl, passes, ops_log, setup_s)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "run_seconds": args.seconds, **source_identity(),
        "nproc": os.cpu_count(), "usable_cpus": len(os.sched_getaffinity(0)),
        "master": f"local[{CORES}]", "shuffle_partitions": SHUFFLE_PARTITIONS,
        "heap": HEAP, "jvm_flags": f"-Xms{HEAP} -Xmx{HEAP} -XX:+AlwaysPreTouch",
        "pyspark": pyspark.__version__, "inputs": wl.inputs(),
        "contamination": contaminated, "host_steal_frac": host_steal,
        "passes": passes, "ops": ops_log,
        "check": problems, **extra,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as fh:
        json.dump({**record, "spans": tracer.spans}, fh)
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": len(ops_log),
        "failed": failed,
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
