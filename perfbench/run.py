"""Benchmark of the spark-graft engine on two workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Workloads:

* ``query-iterative``: a closed loop with one client over queries whose
  ``fn()`` launches chains of eager jobs, so job count and driver time
  bound them.  It runs whole passes, at least two, for ``S`` seconds.
* ``pipeline-ingest``: the reference pipeline's shape (``wire.py``):
  events are encoded as JSON wire files by
  ``sources.sinks.write_keyed_wire``; for ``S / 2`` seconds an open-loop
  thread releases one file every ``PERIOD_S`` seconds while
  ``streaming.pipeline.json_wire_stream`` + ``land_parquet`` land them;
  a backlog drain lands every file again, one per micro-batch; then a
  closed loop with one client runs dashboard queries (one lazy plan
  each) over the landed table for ``S / 2`` seconds.

Each run sets up ``SETUPS`` times (a fresh import of the package,
``session.get_spark`` and ``registry.load_all``; the first also starts
the JVM), then runs every query once untimed, comparing its result with
its DuckDB twin (``oracle.py``); that pass also warms the JVM and the
Python workers.  Timed queries are built (``fn``) and executed through
the noop sink.  Between queries the leftovers are counted, then
released: cached tables, persisted RDDs, temp views, memory-sink tables
and files under the per-run ``TMPDIR``.

The tables are generated (``datagen.py``); the seed permutes the query
order of every pass and generates the pipeline's event stream.  The
last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics when ``--trace 0``,
the per-layer metrics when ``--trace 1``.  End-to-end metrics:

* ``setup_s``: median time of one set-up.
* ``suite_s``: one pass over the query set (build plus sink), median
  over passes; for ``pipeline-ingest`` the dashboard pass.  Ingest
  timings (event-to-queryable latency, drain throughput) are disk bound
  and spread by a third or more from run to run on a small virtual
  machine, so they go to the fuller record described below.
* ``heap_retained_mb``: driver JVM heap still in use at the end of the
  run once garbage is collected - what the queries left behind.

Per-query wall time over all timed samples is reported per layer, at
the median (``operators.query_p50_s``) and at the highest percentile
with at least ten samples beyond it (``operators.query_tail_s``; the
maximum below 100 samples), as is the peak resident memory of the JVM
plus this process (``peak_rss_mb``, from ``/proc``).  With a handful of
different queries per pass their median and maximum jump between
queries, and peak memory moves with garbage-collection timing, so all
three spread by a fifth or more from run to run.

A traced run also reads Spark's counters after every timed query and
records spans; its metrics are per layer.  Layer timings that only
``pipeline-ingest`` has (wire encoding, micro-batch and ``addBatch``
times, event-to-queryable latency, drain throughput) would read a
constant zero on the other workload, so they are kept in the fuller
record only.  That record (provenance, failures with their base,
per-query samples, the pipeline's latencies and throughput, the cost
fit, and spans when traced) is written to ``.perfbench_out/`` under the
repository root.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

T_PROCESS = time.time()

import datagen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402
import wire  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "severless_data_pipeline_aws_spark"

SF = 0.001
# The tables are one fixed fixture: the iterative queries converge in a
# data-dependent number of rounds (connected components takes 3 or 4
# cycles depending on the corpus), which would make timings depend on
# the seed.  The run seed permutes query order and generates the event
# stream of pipeline-ingest.
DATA_SEED = 42
SETUPS = 5
PERIOD_S = 0.5  # open-loop release interval of one wire file
FILE_RECORDS = 2000  # records per wire file (one put_records batch)
SLICE_FILES = 2  # wire files per event-time slice; the seed deals a slice's events across them

# Query sets are sized so that every run, JVM start and cold first pass
# included, ends well inside a minute on a 4-core host.
ITERATIVE = (
    "dedup_connected_components",
    "funnel_kaplan_meier_conversion",
    "graph_pagerank_bounded",
)
DASHBOARD = (
    "recent_n_events",
    "distinct_sorted_keys",
    "dashboard_cached_status_counts",
    "dashboard_heatmap_hour_dow",
    "dashboard_topn_with_others",
    "nested_flatten_wide",
    "dashboard_lttb_downsample",
)
WORKLOADS = {"query-iterative": ITERATIVE, "pipeline-ingest": DASHBOARD}

END_TO_END = {
    "setup_s": "s",
    "suite_s": "s",
    "heap_retained_mb": "MB",
}
PER_LAYER = {
    "peak_rss_mb": "MB",
    "operators.query_p50_s": "s",
    "operators.query_tail_s": "s",
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.driver_idle_s": "s",
    "operators.exec_s": "s",
    "operators.exec_jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.task_run_s": "s",
    "operators.task_cpu_s": "s",
    "operators.core_busy_frac": "ratio",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.task_failures": "count",
    "operators.leaked_rdds": "count",
    "operators.leaked_tables": "count",
    "operators.tmp_bytes_left": "bytes",
    "io.input_bytes": "bytes",
    "io.input_rows": "count",
    "sources.sinks.wire_bytes": "bytes",
    "streaming.pipeline.batches": "count",
    "streaming.pipeline.files_per_batch": "ratio",
    "streaming.pipeline.backlog_files_max": "count",
    "streaming.pipeline.input_rows": "count",
    "streaming.pipeline.landed_files": "count",
    "streaming.pipeline.landed_bytes": "bytes",
    "trace.read_s": "s",
    "fit.s_per_job": "s",
    "fit.task_core_coef": "ratio",
    "fit.intercept_s": "s",
}


def dir_bytes(path: str) -> int:
    """Bytes in the regular files under ``path``."""
    return sum(
        os.path.getsize(p)
        for dirpath, _, names in os.walk(path)
        for p in (os.path.join(dirpath, n) for n in names)
        if not os.path.islink(p)
    )


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def package_sha() -> str:
    """Hash of the package's Python sources, for checkouts without git metadata."""
    import hashlib

    h = hashlib.sha256()
    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(os.path.join(ROOT, PKG)) for n in names if n.endswith(".py"))
    for path in paths:
        with open(path, "rb") as f:
            h.update(os.path.relpath(path, ROOT).encode() + f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    import subprocess

    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


def retained_heap(sc) -> int:
    """Driver heap bytes in use once garbage is collected on both sides.

    Python's collection releases the JVM objects its dead DataFrames
    pinned.  Spark's ContextCleaner drops shuffles, broadcasts and
    checkpointed blocks only after a JVM collection finds them
    unreachable, so the JVM collects until the heap stops shrinking."""
    gc.collect()
    bean = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = None
    for _ in range(10):
        sc._jvm.java.lang.System.gc()
        used = bean.getHeapMemoryUsage().getUsed()
        if last is not None and used > 0.99 * last:
            break
        last = used
        time.sleep(0.5)
    return used


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


class Bench:
    def __init__(self, args: argparse.Namespace, work: str):
        self.args, self.work = args, work
        self.rng = random.Random(args.seed)
        self.tracer = spans.Tracer(bool(args.trace))
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.samples: list[dict] = []  # one per timed query run
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.extra: dict = {}
        self.data = os.path.join(work, "data")
        self.rows = datagen.generate(self.data, DATA_SEED, SF)
        self.phases: dict[str, float] = {"datagen": time.time() - T_PROCESS}

    # -- set-up -----------------------------------------------------------

    def setup(self) -> None:
        """Set up ``SETUPS`` times: a fresh import of the package, a session and the registry.

        The first set-up starts the JVM; each later one stops the session
        and builds it again in the same JVM.  ``setup_s`` is the median."""
        import importlib

        conf = {"spark.ui.showConsoleProgress": "false"}
        totals, get_spark_s, load_all_s = [], [], []
        self.spark = None
        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            for mod in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
                del sys.modules[mod]
            gc.collect()
            t0 = T_PROCESS if i == 0 else time.time()
            with self.tracer.span("session.get_spark", op=f"setup:{i}") as sid:
                session = importlib.import_module(PKG + ".session")
                self.spark = session.get_spark(extra_conf=conf)
            with self.tracer.span("registry.load_all", op=f"setup:{i}"):
                self.specs = importlib.import_module(PKG + ".registry").load_all()
            t1 = time.time()
            done = self.tracer.spans
            get_spark_s.append(done[sid[0]]["end"] - done[sid[0]]["start"])
            load_all_s.append(done[-1]["end"] - done[-1]["start"])
            totals.append(t1 - t0)
        self.tracer.attach(self.spark)
        self.io = importlib.import_module(PKG + ".io")
        self.setup_s = statistics.median(totals)
        self.extra["setup_runs_s"] = totals
        self.layer["session.get_spark_s"] = statistics.median(get_spark_s)
        self.layer["registry.load_all_s"] = statistics.median(load_all_s)

    # -- one query --------------------------------------------------------

    def cleanup(self) -> dict:
        """Count what the last query left behind, then release it (bench.py's policy)."""
        spark = self.spark
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        views = [t.name for t in spark.catalog.listTables() if t.isTemporary]
        streams = spark.streams.active
        tmp = os.environ["TMPDIR"]
        left = {"leaked_rdds": rdds.size(), "leaked_tables": len(views) + len(streams), "tmp_bytes_left": dir_bytes(tmp)}
        for q in streams:
            q.stop()
        spark.catalog.clearCache()
        for rdd in rdds.values():
            rdd.unpersist()
        for v in views:
            spark.catalog.dropTempView(v)
        for name in os.listdir(tmp):
            p = os.path.join(tmp, name)
            shutil.rmtree(p) if os.path.isdir(p) and not os.path.islink(p) else os.remove(p)
        return left

    def run_query(self, name: str, sf_dir: str, pass_no: int) -> None:
        """Build the query (``fn``) and execute it through the noop sink, timed."""
        tr = self.tracer
        self.attempted += 1
        j0, t0 = tr.next_job_id(), time.perf_counter()
        try:
            with tr.span(f"operators.build:{name}", op=f"{pass_no}:{name}") as b:
                df = self.specs[name].fn(self.spark, sf_dir)
            j1, t1 = tr.next_job_id(), time.perf_counter()
            with tr.span(f"operators.exec:{name}", op=f"{pass_no}:{name}") as e:
                df.write.format("noop").mode("overwrite").save()
            j2, t2 = tr.next_job_id(), time.perf_counter()
        except Exception as exc:  # a failing query is counted and the loop goes on
            self.failed += 1
            self.errors.append(f"{name} pass {pass_no}: {exc!r}"[:500])
            self.cleanup()
            return
        s = {"query": name, "pass": pass_no, "build_s": t1 - t0, "exec_s": t2 - t1, "wall_s": t2 - t0}
        if tr.enabled:
            build = tr.jobs(j0, j1, b[0], f"{pass_no}:{name}")
            run = tr.jobs(j1, j2, e[0], f"{pass_no}:{name}")
            lo, hi = tr.spans[b[0]]["start"], tr.spans[e[0]]["end"]
            s.update(
                build_jobs=build["jobs"],
                exec_jobs=run["jobs"],
                jobs=build["jobs"] + run["jobs"],
                driver_idle_s=(hi - lo) - spans.covered(build["intervals"] + run["intervals"], lo, hi),
                stages=build["stages"] + run["stages"],
            )
            for key, field, scale in (
                ("tasks", "numTasks", 1),
                ("task_failures", "numFailedTasks", 1),
                ("task_run_s", "executorRunTime", 1e-3),
                ("task_cpu_s", "executorCpuTime", 1e-9),
                ("input_bytes", "inputBytes", 1),
                ("input_rows", "inputRecords", 1),
                ("shuffle_read_bytes", "shuffleReadBytes", 1),
                ("shuffle_write_bytes", "shuffleWriteBytes", 1),
            ):
                s[key] = (build[field] + run[field]) * scale
            s["spill_bytes"] = sum(build[f] + run[f] for f in ("memoryBytesSpilled", "diskBytesSpilled"))
            s["phases"] = [  # build and sink separately: job-heavy vs task-heavy points for the cost fit
                {"wall_s": s[f"{k}_s"], "jobs": ph["jobs"], "task_run_s": ph["executorRunTime"] * 1e-3}
                for k, ph in (("build", build), ("exec", run))
            ]
            s.update(self.cleanup())
        else:
            self.cleanup()
        self.samples.append(s)

    # -- query loops ------------------------------------------------------

    def verify(self, names: tuple[str, ...], sf_dir: str) -> None:
        """Untimed first pass: collect every result and compare it with its DuckDB twin.

        The DuckDB side runs in a thread while Spark computes; this pass
        also warms the JVM and the Python workers for the timed passes."""
        from concurrent.futures import ThreadPoolExecutor

        con = oracle.connect(sf_dir, os.path.join(self.work, "duckdb"))
        with ThreadPoolExecutor(1) as pool:
            twins = {n: pool.submit(oracle.oracle_digest, con, self.specs[n].oracle) for n in names}
            for name in self.rng.sample(names, len(names)):
                self.attempted += 1
                try:
                    with self.tracer.span(f"verify:{name}", op="verify"):
                        got = oracle.digest(self.specs[name].fn(self.spark, sf_dir).toPandas())
                    want = twins[name].result()
                except Exception as exc:  # counted as a failed check
                    got, want = repr(exc), None
                self.cleanup()
                if got != want:
                    self.failed += 1
                    self.errors.append(f"{name}: spark {got} != duckdb {want}"[:500])
        con.close()

    def timed_passes(self, names: tuple[str, ...], sf_dir: str, seconds: float) -> list[float]:
        """Closed loop, one client: whole passes in seeded order, at least two, until ``seconds`` have passed."""
        start, passes = time.perf_counter(), []
        while len(passes) < 2 or time.perf_counter() - start < seconds:
            p = len(passes)
            for name in self.rng.sample(names, len(names)):
                self.run_query(name, sf_dir, p)
            passes.append(sum(s["wall_s"] for s in self.samples if s["pass"] == p))
        return passes

    def per_layer_queries(self, n_passes: int) -> None:
        """Per-pass totals of the traced query counters (median over passes)."""
        def per_pass(key: str) -> float:
            return statistics.median(sum(s.get(key, 0) for s in self.samples if s["pass"] == p) for p in range(n_passes))

        L = self.layer
        for key in ("build_s", "build_jobs", "driver_idle_s", "exec_s", "exec_jobs", "stages", "tasks", "task_run_s",
                    "task_cpu_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "task_failures",
                    "leaked_rdds", "leaked_tables", "tmp_bytes_left"):
            L[f"operators.{key}"] = per_pass(key)
        L["io.input_bytes"] = per_pass("input_bytes")
        L["io.input_rows"] = per_pass("input_rows")
        wall = per_pass("wall_s")
        L["operators.core_busy_frac"] = L["operators.task_run_s"] / (wall * self.cores) if wall else 0.0
        L["trace.read_s"] = self.tracer.read_s / n_passes
        fit = spans.fit_cost([ph for s in self.samples for ph in s["phases"]], self.cores)
        self.extra["cost_fit"] = fit
        L["fit.s_per_job"], L["fit.task_core_coef"], L["fit.intercept_s"] = (
            fit["s_per_job"], fit["task_core_coef"], fit["intercept_s"])

    # -- workloads --------------------------------------------------------

    def query_workload(self, names: tuple[str, ...]) -> float:
        self.verify(names, self.data)
        self.mark("verify")
        passes = self.timed_passes(names, self.data, self.args.seconds)
        self.mark("timed")
        self.extra["passes_s"] = passes
        if self.tracer.enabled:
            self.per_layer_queries(len(passes))
        return statistics.median(passes)

    def pipeline_workload(self) -> float:
        ing = wire.Ingest(self, PERIOD_S, FILE_RECORDS, SLICE_FILES)
        ing.encode()
        self.mark("encode")
        ing.open_loop()
        self.mark("open_loop")
        ing.drain()
        self.mark("drain")
        ing.check_landed()
        dash = ing.dashboard_dir()
        self.verify(DASHBOARD, dash)
        self.mark("verify")
        passes = self.timed_passes(DASHBOARD, dash, self.args.seconds / 2)
        self.mark("timed")
        self.extra["passes_s"] = passes
        self.extra["pipeline"] = ing.summary()
        if self.tracer.enabled:
            self.per_layer_queries(len(passes))
            ing.per_layer(self.layer)
        return statistics.median(passes)

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since the process started."""
        self.phases[phase] = time.time() - T_PROCESS

    def run(self) -> dict:
        self.setup()
        self.mark("setup")
        names = WORKLOADS[self.args.workload]
        if self.args.workload == "pipeline-ingest":
            suite = self.pipeline_workload()
        else:
            suite = self.query_workload(names)
        walls = [s["wall_s"] for s in self.samples]
        t_val, t_pct, t_n = spans.tail(walls) if walls else (0.0, 0.0, 0)
        sc = self.spark.sparkContext
        self.layer["peak_rss_mb"] = self.extra["peak_rss_mb"] = vm_hwm_mb(sc._gateway.proc.pid) + vm_hwm_mb("self")
        heap = retained_heap(sc)
        self.layer["operators.query_p50_s"] = statistics.median(walls) if walls else 0.0
        self.layer["operators.query_tail_s"] = t_val
        e2e = {"setup_s": self.setup_s, "suite_s": suite, "heap_retained_mb": heap / 2**20}
        self.extra["query_tail"] = {"percentile": t_pct, "samples": t_n}
        return e2e


def provenance(args: argparse.Namespace, spark) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": SF,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "nproc": len(os.sched_getaffinity(0)),
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "git_sha": git_sha(),
        "package_sha256": package_sha(),
        "python": sys.version.split()[0],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: the package {PKG}/ is not beside {HERE}; run from a repository checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for d in ("tmp", "jvm-tmp", "spark-local", "warehouse", "duckdb"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # every JVM, the launcher's too: temp files in the run directory, no /tmp/hsperfdata
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work}/jvm-tmp -XX:-UsePerfData",
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    bench = None
    try:
        bench = Bench(args, work)
        e2e = bench.run()
        prov = provenance(args, bench.spark)
    finally:
        if bench is not None and getattr(bench, "spark", None) is not None:
            stop_jvm(bench.spark)
            bench.mark("stop")
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    metrics = {k: bench.layer[k] for k in PER_LAYER} if args.trace else e2e
    correct = bench.failed == 0
    record = {
        "provenance": prov,
        "end_to_end": e2e,
        "per_layer": bench.layer if args.trace else None,
        "failed_frac": {"failed": bench.failed, "attempted": bench.attempted,
                        "value": bench.failed / bench.attempted if bench.attempted else 0.0},
        "errors": bench.errors,
        "extra": bench.extra,
        "phases_s": bench.phases,
        "samples": bench.samples,
        "rows": bench.rows,
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        bench.tracer.write(stem + ".spans.json")

    ff = record["failed_frac"]
    print(f"# {args.workload} seed={args.seed} cpus={prov['SPARK_GRAFT_CPUS']} nproc={prov['nproc']} "
          f"sf={SF} spark={prov['spark_version']} git={prov['git_sha']} pkg={prov['package_sha256']}")
    for name, value in e2e.items():
        print(f"{name:<24} {value:>14.4f} {END_TO_END[name]}")
    print(f"{'failed_frac':<24} {ff['value']:>14.4f} ratio ({ff['failed']} failed of {ff['attempted']} "
          "operations: oracle checks, timed queries, released files, landed-table checks)")
    for err in bench.errors:
        print(f"# failure: {err}")
    result = {
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
