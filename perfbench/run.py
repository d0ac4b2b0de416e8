"""Benchmark of the daily-highlights job (``cli.main``), one workload a run.

    python3 perfbench/run.py --workload daily_top10 --seed 1 --seconds 10 --trace 0

Run from the repository root.  One client runs jobs in a closed loop:
the next ``cli.main`` day starts when the previous one returns.  Inputs
are generated from ``--seed`` into ``.perfbench_work/`` (cached by seed
and parameters); the program sees only those files.  Every job's output
is read back and compared with the DuckDB transliteration of the
reference SQL, outside the timed section.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a run whose first half is untraced and second half traced
(see ``tracing.py``).  The last stdout line is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it states the environment and every figure with its unit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

PROCESS_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

LIST_ID = gen.TARGET_LIST
JOB_TIMEOUT_S = 90.0
RUN_DEADLINE_S = 170.0
# the sampler shares the driver's GIL with the py4j calls of a job
RSS_PERIOD_S = 0.5
# keeps the JVMs from writing /tmp/hsperfdata_*: the run touches only
# files inside the checkout
NO_PERF_DATA = "-XX:-UsePerfData"
# The program's 8g default heap doubles the resident set (6.3-6.9 GB
# against 3.0-3.3 GB) for the same job times; see METRICS.md
DRIVER_MEMORY = "2g"

# Why each workload exists; BENCHMARK.json gives the same reasons.
# Both are smaller than the intended 60 x 20k and 7 x 20k, so that 48
# runs fit in 3420 s; METRICS.md has the runs that forced it.
WORKLOADS = {
    # long history, top-10 of three variants: the plan reads the whole
    # history about 30 times over; only 30 records reach the sink
    "daily_top10": dict(days=60, statuses_per_day=3000, publishers=400,
                        limit=10, lake=False),
    # a week of days 2.7x heavier, every ranked row (~3.2k a day), both
    # stores holding the day's earlier publication: per-row sink writes,
    # deletes and partition overwrite, and the plan runs a full sort
    "backfill_all_ranks": dict(days=7, statuses_per_day=8000,
                               publishers=400, limit=0, lake=True),
}
# Job times fall over the first jobs of a session while the JIT compiles
# the hot paths (daily_top10: 20.4, 6.9, 6.1, 5.9, 5.4 s; METRICS.md),
# and the fall is steeper when the host is busy.  A run makes
# WARMUP_JOBS untimed jobs, counted in ``setup_s``, and then at least
# MIN_JOBS timed ones.
WARMUP_JOBS = 2
MIN_JOBS = 2

E2E_UNITS = {"setup_s": "s", "job_s.p50": "s", "job_s.tail": "s",
             "rows_per_s": "rows/s"}
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "cli.self_s": "s",
    "catalog.load_s": "s",
    "plans.build_s": "s",
    "exec.read_per_input_byte": "ratio",
    "exec.rows_per_output_row": "ratio",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.sql_executions": "count",
    "exec.read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "sources.document_sink.write_s": "s",
    "sources.document_sink.updates": "count",
    "sources.document_sink.update_busy_s": "s",
    "sources.document_sink.deletes": "count",
    "sources.document_sink.delete_s": "s",
    "sources.document_sink.written_per_row": "ratio",
    "sources.lake.write_s": "s",
    "sources.lake.files": "count",
    "sources.lake.bytes_per_row": "B/row",
    "tracing.overhead_ratio": "ratio",
    "peak_rss_mb": "MB",
}
MB = 1024.0 * 1024.0


# -- process tree ----------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        if state == "Z":  # exited; holds no memory
            continue
        kids.setdefault(int(ppid), []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop_evt.wait(RSS_PERIOD_S)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def kill_descendants_and_exit(code: int) -> None:
    import faulthandler

    print(f"perfbench: run exceeded {RUN_DEADLINE_S}s", file=sys.stderr)
    faulthandler.dump_traceback(file=sys.stderr, all_threads=True)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    os._exit(code)


# -- Spark lifetime ----------------------------------------------------------

def start_spark(run_dir: str, nproc: int):
    from org_revue_de_presse_trends_spark.session import (
        DEFAULT_CONF,
        get_spark,
    )

    tmp = os.path.join(run_dir, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions":
                DEFAULT_CONF["spark.driver.extraJavaOptions"]
                + f" -Djava.io.tmpdir={tmp} {NO_PERF_DATA}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    every descendant process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    while descendants(os.getpid()):
        time.sleep(0.05)


# -- output checks -----------------------------------------------------------

def read_leaves(sink_dir: str, day: str) -> dict[str, dict[str, dict]]:
    base = os.path.join(sink_dir, "highlights", LIST_ID, day)
    out: dict[str, dict[str, dict]] = {}
    if not os.path.isdir(base):
        return out
    for variant in os.listdir(base):
        recs = out.setdefault(variant, {})
        vdir = os.path.join(base, variant)
        for name in os.listdir(vdir):
            with open(os.path.join(vdir, name)) as f:
                recs[name[: -len(".json")]] = json.load(f)
    return out


def lake_partition(lake_dir: str, day: str) -> tuple[dict, int, int]:
    """``({variant: sorted row tuples}, data files, bytes)`` of one day."""
    import pyarrow.parquet as pq

    from perfbench.oracles import FIELDS

    base = os.path.join(lake_dir, f"day={day}")
    rows: dict[str, list[tuple]] = {}
    files = size = 0
    if not os.path.isdir(base):
        return rows, files, size
    for part in os.listdir(base):
        pdir = os.path.join(base, part)
        for name in os.listdir(pdir):
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(pdir, name))
        t = pq.read_table(pdir, columns=list(FIELDS))
        cols = [t.column(f).to_pylist() for f in FIELDS]
        rows[part.split("=", 1)[1]] = sorted(zip(*cols), key=repr)
    return rows, files, size


def _write_lake_file(path: str, rows: list[tuple]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench.oracles import FIELDS

    cols = list(zip(*rows)) if rows else [() for _ in FIELDS]
    pq.write_table(pa.table({f: list(c) for f, c in zip(FIELDS, cols)}),
                   path)


class Checker:
    """Compares one job's published output with the oracle."""

    def __init__(self, oracle, lake: bool):
        self.oracle = oracle
        self.lake = lake

    def check(self, day: str, sink_dir: str, lake_dir: str | None) -> dict:
        res = {"leaves": 0, "lake_rows": 0, "lake_files": 0,
               "lake_bytes": 0, "result_rows": 0, "problems": []}
        try:
            res["result_rows"] = sum(
                len(r) for r in self.oracle.rows(day).values())
            want = self.oracle.leaves(day)
            got = read_leaves(sink_dir, day)
            res["leaves"] = sum(len(v) for v in got.values())
            if got != want:
                res["problems"].append(
                    f"sink {day}: records differ (got/want " + ", ".join(
                        f"{v} {len(got.get(v, {}))}/{len(want.get(v, {}))}"
                        for v in sorted(set(want) | set(got))) + ")")
            if self.lake:
                rows, res["lake_files"], res["lake_bytes"] = (
                    lake_partition(lake_dir, day))
                res["lake_rows"] = sum(len(r) for r in rows.values())
                want_rows = {v: sorted(r, key=repr)
                             for v, r in self.oracle.rows(day).items()}
                if rows != want_rows:
                    res["problems"].append(f"lake {day}: rows differ")
        except Exception as exc:  # noqa: BLE001 — unreadable output fails
            res["problems"].append(f"check {day}: {type(exc).__name__}: {exc}")
        return res

    def plant_stale(self, day: str, sink_dir: str, lake_dir: str) -> None:
        """Add one stale record to every non-empty variant of ``day`` in
        both stores, next to an earlier publication of the day; a job
        that does not replace the day leaves it behind and fails the
        check."""
        from org_revue_de_presse_trends_spark.sources.document_sink import (
            LocalFSDocumentStore,
        )

        store = LocalFSDocumentStore(sink_dir)
        for variant, rows in self.oracle.rows(day).items():
            if not rows:
                continue
            stale = (0, "0", "stale", *rows[0][3:])
            store.update(f"highlights/{LIST_ID}/{day}/{variant}/0",
                         {"id": 0, "twitterId": "0"})
            pdir = os.path.join(lake_dir, f"day={day}",
                                f"statusType={variant}")
            os.makedirs(pdir, exist_ok=True)
            _write_lake_file(os.path.join(pdir, "part-stale.parquet"),
                             [stale])


# -- metrics -----------------------------------------------------------------

def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples above it; the maximum when there are fewer than eleven."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    k = n - 11
    return s[k], 100.0 * (k + 1) / n


def median_of(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def layer_metrics(tracer, store, jobs, untraced_p50, input_bytes,
                  get_spark_s):
    """Per-job medians over the traced jobs, and the exec counts that
    differ between two traced jobs of the same day."""
    cli_self = {s["job"]: s["self_s"] for s in tracer.self_times()
                if s["name"] == "cli.main"}
    spans = {n: tracer.per_job(n) for n in (
        "catalog.load", "plans.build", "sources.document_sink.write",
        "sources.lake.write")}
    exec_: dict[int, dict] = {}
    for e in tracer.exec:
        tot = exec_.setdefault(e["job"], {})
        for k in ("jobs", "tasks", "executions", "bytes_read",
                  "shuffle_bytes_written", "spill_bytes", "sql_output_rows"):
            tot[k] = tot.get(k, 0) + e[k]

    def med(fn):
        return median_of(fn(j) for j in jobs)

    def span(name):
        return lambda j: spans[name].get(j["id"], 0.0)

    def ex(key):
        return lambda j: exec_.get(j["id"], {}).get(key, 0)

    def st(key):
        return lambda j: store.get(j["id"], {}).get(key, 0)

    def published(j):
        return max(j["leaves"] + j["lake_rows"], 1)

    m = {
        "session.get_spark_s": get_spark_s,
        "cli.self_s": med(lambda j: cli_self.get(j["id"], 0.0)),
        "catalog.load_s": med(span("catalog.load")),
        "plans.build_s": med(span("plans.build")),
        "exec.read_per_input_byte": med(ex("bytes_read")) / input_bytes,
        "exec.rows_per_output_row": med(
            lambda j: ex("sql_output_rows")(j) / published(j)),
        "exec.jobs": med(ex("jobs")),
        "exec.tasks": med(ex("tasks")),
        "exec.sql_executions": med(ex("executions")),
        "exec.read_mb": med(ex("bytes_read")) / MB,
        "exec.shuffle_write_mb": med(ex("shuffle_bytes_written")) / MB,
        "exec.spill_mb": med(ex("spill_bytes")) / MB,
        "sources.document_sink.write_s": med(
            span("sources.document_sink.write")),
        "sources.document_sink.updates": med(st("updates")),
        "sources.document_sink.update_busy_s": med(st("update_busy_s")),
        "sources.document_sink.deletes": med(st("deletes")),
        "sources.document_sink.delete_s": med(st("delete_s")),
        "sources.document_sink.written_per_row": med(
            lambda j: st("updates")(j) / max(j["result_rows"], 1)),
        "sources.lake.write_s": med(span("sources.lake.write")),
        "sources.lake.files": med(lambda j: j["lake_files"]),
        "sources.lake.bytes_per_row": med(
            lambda j: j["lake_bytes"] / max(j["lake_rows"], 1)),
        "tracing.overhead_ratio": med(lambda j: j["seconds"]) / untraced_p50,
    }
    first: dict[str, dict] = {}
    differ = set()
    for j in jobs:
        counts = exec_.get(j["id"], {})
        prev = first.setdefault(j["day"], counts)
        differ |= {k for k in counts if counts[k] != prev.get(k)}
    return m, sorted(differ)


# -- main --------------------------------------------------------------------

def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import org_revue_de_presse_trends_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}",
              file=sys.stderr)
        return 2
    deadline = threading.Timer(RUN_DEADLINE_S, kill_descendants_and_exit,
                               args=(3,))
    deadline.daemon = True
    deadline.start()

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(
        work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "trace", "duckdb"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(nproc),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LAUNCHER_OPTS": NO_PERF_DATA,
        # Python workers import the package and the counting store
        "PYTHONPATH": os.pathsep.join(
            [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]),
    })
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    try:
        summary, result = Run(args, nproc, work, run_dir).run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    deadline.cancel()
    summary["run_wall_s"] = time.perf_counter() - PROCESS_START
    print("perfbench: " + json.dumps(summary, sort_keys=True))
    print(json.dumps(result))
    return 0


class Run:
    """One benchmark run: inputs, set-up, closed job loop, checks."""

    def __init__(self, args, nproc: int, work: str, run_dir: str):
        self.args = args
        self.cfg = WORKLOADS[args.workload]
        self.nproc = nproc
        self.work = work
        self.run_dir = run_dir
        self.sink_root = os.path.join(run_dir, "sink")
        self.lake_dir = (os.path.join(run_dir, "lake")
                         if self.cfg["lake"] else None)
        self.trace_dir = os.path.join(run_dir, "trace")
        self.failures: list[str] = []

    def prepare_inputs(self) -> None:
        from perfbench.oracles import TABLES, TrendsOracle

        cfg = self.cfg
        spec = (os.path.join(self.work, "data"), self.args.seed, cfg["days"],
                cfg["statuses_per_day"], cfg["publishers"])
        self.src = gen.cached_trends_tables(*spec)
        if self.src is None:
            # generated in a child process so its memory stays out of
            # the measured resident set
            call = ("from perfbench import gen; "
                    f"print(gen.trends_tables{spec!r})")
            self.src = subprocess.run(
                [sys.executable, "-c", call], cwd=ROOT, check=True,
                capture_output=True, text=True).stdout.strip()
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.src, f"{t}.parquet"))
            for t in TABLES)
        self.days = gen.day_list(cfg["days"])
        self.oracle = TrendsOracle(self.src, cfg["limit"],
                                   os.path.join(self.run_dir, "duckdb"))
        self.checker = Checker(self.oracle, cfg["lake"])
        self.published: set[str] = set()

    def prepare_day(self, day: str) -> None:
        """What a job on ``day`` needs in place, untimed: on the lake
        workload, stale records next to the day's earlier publication;
        a clean heap on both sides of py4j."""
        if self.cfg["lake"] and day in self.published:
            self.checker.plant_stale(day, self.sink_root, self.lake_dir)
        gc.collect()
        self.spark._jvm.System.gc()

    def job_argv(self, day: str, sink_dir: str) -> list[str]:
        a = ["--publishers-list-id", LIST_ID, "--since-date", day,
             "--source-dir", self.src, "--sink-dir", sink_dir]
        if self.cfg["limit"] != 10:
            a += ["--limit", str(self.cfg["limit"])]
        if self.lake_dir:
            a += ["--lake-dir", self.lake_dir]
        return a

    def execute(self, idx: int, day: str, tracer=None) -> dict:
        """Run one job under a watchdog; the check runs after the
        timed section."""
        from org_revue_de_presse_trends_spark import cli

        sink_dir = (self.sink_root if self.cfg["lake"]
                    else os.path.join(self.sink_root, f"job{idx}"))
        t = time.perf_counter()
        self.prepare_day(day)
        prep_s = time.perf_counter() - t
        sc = self.spark.sparkContext
        timed_out = threading.Event()

        def cancel():
            timed_out.set()
            sc.cancelAllJobs()

        watchdog = threading.Timer(JOB_TIMEOUT_S, cancel)
        watchdog.start()
        error = None
        t = time.perf_counter()
        try:
            if tracer is None:
                cli.main(self.job_argv(day, sink_dir), spark=self.spark)
            else:
                tracer.job_id = idx
                with tracer.span("cli.main"):
                    cli.main(self.job_argv(day, sink_dir), spark=self.spark)
        except (Exception, SystemExit) as exc:  # noqa: BLE001 — counted
            error = f"job {idx} {day}: {type(exc).__name__}: {exc}"
        finally:
            seconds = time.perf_counter() - t
            watchdog.cancel()
        if timed_out.is_set():
            error = f"job {idx} {day}: timed out after {JOB_TIMEOUT_S}s"
        self.published.add(day)
        return {"id": idx, "day": day, "seconds": seconds, "error": error,
                "sink_dir": sink_dir, "prep_s": prep_s}

    def check(self, job: dict) -> dict:
        res = self.checker.check(job["day"], job["sink_dir"], self.lake_dir)
        if job["error"] is None and res["problems"]:
            job["error"] = "; ".join(res["problems"])
        if job["error"]:
            self.failures.append(job["error"])
        return {**job, **res}

    def day_of(self, i: int) -> str:
        # The warm-up jobs publish the first days.  On the lake workload
        # that is the untimed first publication, and timed jobs
        # re-publish those days over it; otherwise timed jobs walk the
        # rest of history.
        if self.cfg["lake"]:
            return self.days[i % WARMUP_JOBS]
        return self.days[WARMUP_JOBS + i % (len(self.days) - WARMUP_JOBS)]

    def run(self) -> tuple[dict, dict]:
        args = self.args
        before_inputs = time.perf_counter()
        self.prepare_inputs()
        inputs_s = time.perf_counter() - before_inputs
        sampler = RssSampler()
        sampler.start()
        t0 = time.perf_counter()
        self.spark = start_spark(self.run_dir, self.nproc)
        try:
            get_spark_s = time.perf_counter() - t0
            warm = [self.execute(-1 - n, self.days[n])
                    for n in range(WARMUP_JOBS)]
            setup_s = (before_inputs - PROCESS_START) + (
                time.perf_counter() - t0) - sum(j["prep_s"] for j in warm)
            for j in warm:
                self.check(j)
            untraced, traced, tracer = self.loop()
            versions = {
                "spark": self.spark.version,
                "java": self.spark._jvm.System.getProperty("java.version"),
                "python": sys.version.split()[0],
            }
            shuffle_partitions = self.spark.conf.get(
                "spark.sql.shuffle.partitions")
        finally:
            stop_spark(self.spark)
            peak_rss = sampler.stop()
            self.oracle.close()

        secs = [j["seconds"] for j in untraced]
        jobs = untraced + traced
        failed = sum(1 for j in jobs if j["error"])
        tail_s, tail_pct = tail(secs)
        e2e = {
            "setup_s": setup_s,
            "job_s.p50": statistics.median(secs),
            "job_s.tail": tail_s,
            "rows_per_s": sum(j["leaves"] + j["lake_rows"] for j in untraced)
            / sum(secs),
        }
        summary = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": self.nproc, "master": f"local[{self.nproc}]",
            "shuffle_partitions": shuffle_partitions, **versions,
            "inputs": {k: self.cfg[k] for k in (
                "days", "statuses_per_day", "publishers")},
            "input_bytes": self.input_bytes, "inputs_s": inputs_s,
            "get_spark_s": get_spark_s,
            "warmup_job_s": [j["seconds"] for j in warm],
            "prep_s": sum(j["prep_s"] for j in warm + untraced + traced),
            "untraced_jobs": len(secs), "tail_percentile": tail_pct,
            "job_seconds": [round(x, 3) for x in secs],
            "failed_ratio": {"value": failed / len(jobs), "unit": "ratio"},
            # varies by more than a tenth between runs, so it is a
            # per-layer metric of the traced run
            "peak_rss_mb": {"value": peak_rss / MB, "unit": "MB"},
            "failures": self.failures[:5],
            "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]}
                           for k, v in e2e.items()},
        }
        metrics = summary["end_to_end"]
        if args.trace:
            from perfbench import tracing

            layer, differ = layer_metrics(
                tracer, tracing.store_totals(self.trace_dir), traced,
                e2e["job_s.p50"], self.input_bytes, get_spark_s)
            layer["peak_rss_mb"] = peak_rss / MB
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                       for k, v in layer.items()}
            summary["traced_jobs"] = len(traced)
            summary["exec_counts_not_repeating"] = differ
            summary["per_layer"] = metrics
            traces = os.path.join(self.work, "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(
                traces, f"{args.workload}-seed{args.seed}.jsonl"))
        result = {"correct": not self.failures, "attempted": len(jobs),
                  "failed": failed, "metrics": metrics}
        return summary, result

    def loop(self):
        """Closed loop until the jobs' own time reaches ``--seconds`` and
        at least ``MIN_JOBS`` jobs ran (checks and store preparation
        between jobs are not counted).
        With ``--trace 1`` the first half is untraced and the second
        half traced; traced jobs publish each day twice in a row so the
        exec counts can be compared."""
        budget = self.args.seconds
        trace = self.args.trace
        untraced: list[dict] = []
        traced: list[dict] = []
        tracer = uninstall = None
        spent = 0.0
        i = 0
        while (spent < budget or len(untraced) + len(traced) < MIN_JOBS
               or (trace and (not traced or len(traced) % 2))):
            if trace and tracer is None and untraced and spent >= budget / 2:
                from perfbench import tracing

                tracer = tracing.Tracer()
                uninstall = tracing.install(tracer, self.spark,
                                            self.trace_dir)
                base = i
            if tracer is None:
                job = self.check(self.execute(i, self.day_of(i)))
                untraced.append(job)
            else:
                day = self.day_of(base + (i - base) // 2)
                job = self.check(self.execute(i, day, tracer))
                traced.append(job)
            spent += job["seconds"]
            i += 1
        if uninstall is not None:
            uninstall()
        return untraced, traced, tracer


if __name__ == "__main__":
    sys.exit(main())
