"""Benchmark of the engine's public API: the medallion MERGE write path and
the star/corpus query read path, on ``local[nproc]`` from one client.

    python3 perfbench/run.py --workload medallion_incremental --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client, inputs generated from ``--seed``):

- ``medallion_incremental``: one history load, then small incremental
  batches through ``SalesPipeline.run``; an operation is one batch.
- ``star_corpus_queries``: star-schema queries over the committed sf0.01
  test corpus and corpus dedup/similarity queries over a seeded fan-out
  of its documents, in a seeded order; an operation is one query (build
  the DataFrame and collect it to pandas).

Each run builds the session, warms up, runs one untimed pass whose
results are checked, then times whole operations until ``--seconds`` of
operation time are spent (at least ``MIN_BATCHES`` batches or one query
pass), then checks the timed results.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` records spans around every layer call
(see ``spans.py``) and reports the per-layer metrics.  Readable lines
come first, every metric with its unit and sample count; the last line
of standard output is one JSON object.  Exit code 0 only when every
correctness check passes; 2 when the engine cannot be imported.  Inputs,
zones, warehouse, spill and temporary files live under
``.perfbench_work/<run>/`` in the checkout; a run removes its own
directory at exit and the directories of earlier runs that were killed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

APP = "perfbench"
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 3  # the first one also launches the JVM
MIN_BATCHES = 1  # incremental batches timed per run, at least
HISTORY_ROWS, BATCH_ROWS = 10_000, 2_000
# the read path: the star queries run on the committed corpus as it is,
# the corpus queries on its fanned-out documents / embeddings
STAR = ["flagship_revenue_by_nation_year", "window_rank_suite"]
CORPUS = ["dedup_exact", "similarity_ann_ivf"]

# name -> (unit, better); the JSON of a --trace 0 run holds exactly these.
# Operation wall times (batch_p50_s, query_p50_s, ...) are printed, not
# bounded: on a shared 4-core host their run-to-run spread exceeds any
# bound a regression check can use, while CPU time per operation holds.
END_TO_END = {
    "setup_s": ("s", "lower"),       # session build in a running JVM plus warm-up, median
    "cpu_s_per_op": ("s", "lower"),  # CPU time of this process, the JVM and the Python workers
}
# layers with inclusive time, self time and jobs per operation
SPAN_LAYERS = [
    "pipeline.run", "pipeline.ingest_bronze", "pipeline.build_silver",
    "pipeline.build_dimensions", "pipeline.build_fact", "dimensions.build_scd1_dimension",
    "upsert.merge_upsert", "versioned.merge", "fact.build_fact", "fact.aggregate_to_grain",
    "io.read_csv", "io.write_parquet", "io.read_parquet", "io.load_testdata",
    "operators.dedup", "operators.similarity", "operators.text", "caching.tracked_persist",
]
CALL_LAYERS = [
    "io.read_parquet", "io.load_testdata", "operators.dedup", "operators.similarity",
    "operators.text", "caching.tracked_persist",
]
SPARK = {"task_run_s": "run_s", "task_cpu_s": "cpu_s", "gc_s": "gc_s", "spill_bytes": "spill_bytes",
         "failed_tasks": "failed_tasks", "output_bytes": "output_bytes"}
QUERY = ["jobs", "stages", "tasks", "shuffle_write_bytes", "input_bytes"]


def per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order."""
    spec = [("session.launch_s", "s", "lower"), ("session.get_spark_s", "s", "lower"),
            ("process.peak_rss_mb", "MB", "lower")]
    for layer in SPAN_LAYERS:
        spec += [(f"{layer}.s", "s", "lower"), (f"{layer}.self_s", "s", "lower"),
                 (f"{layer}.jobs", "count", "lower")]
    spec += [(f"{layer}.calls", "count", "lower") for layer in CALL_LAYERS]
    spec += [
        ("pipeline.initial_load.s", "s", "lower"), ("pipeline.initial_load.jobs", "count", "lower"),
        ("pipeline.initial_load.tasks", "count", "lower"), ("pipeline.batch_rows_per_s", "1/s", "higher"),
        ("io.ingest_bronze.tasks", "count", "lower"),
        ("versioned.merge.bytes_written", "bytes", "lower"), ("versioned.merge.files_written", "count", "lower"),
        ("versioned.versions_on_disk", "count", "lower"), ("versioned.write_amp", "ratio", "lower"),
        ("versioned.space_amp", "ratio", "lower"), ("caching.release_caches.released", "count", "higher"),
        ("query.build_s", "s", "lower"), ("query.exec_s", "s", "lower"),
    ]
    spec += [(f"query.{k}", "bytes" if k.endswith("bytes") else "count", "lower") for k in QUERY]
    spec += [(f"spark.{k}", "bytes" if k.endswith("bytes") else "s" if k.endswith("_s") else "count", "lower")
             for k in SPARK]
    spec += [("spark.core_util", "ratio", "higher"), ("trace.op_p50_s", "s", "lower"),
             ("trace.cpu_s_per_op", "s", "lower"), ("trace.recorder_s_per_op", "s", "lower"),
             ("star.query_p50_s", "s", "lower"), ("corpus.query_p50_s", "s", "lower")]
    spec += [(f"q.{q}.s", "s", "lower") for q in STAR + CORPUS]
    return spec


# -- process tree ------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, own and reaped children) of a process tree."""
    ticks = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                ticks += sum(int(v) for v in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_mb(pid: int) -> float:
    pages = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                pages += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Peak resident memory of this process and all its descendants."""

    def __init__(self, interval: float = 0.5):
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval,), daemon=True)

    def _run(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def stop_jvm(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started exits."""
    from pyspark import SparkContext

    left = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while left and time.monotonic() < deadline:
        left = [p for p in left if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def sweep_stale_work() -> None:
    """Remove the work directories of earlier runs whose process is gone."""
    for name in os.listdir(WORK) if os.path.isdir(WORK) else ():
        pid = name.rsplit("-", 1)[-1]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


# -- one run -----------------------------------------------------------------

class Outcome:
    """Operation latencies, failures and extra readings of one run."""

    def __init__(self):
        self.op_s: list[float] = []
        self.cpu_s: list[float] = []  # process-tree CPU time of each timed operation
        self.attempted = 0
        self.failed = 0
        self.info: dict[str, float] = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAIL {what}", file=sys.stderr)


def timed_op(out: Outcome, rec, kind: str, what: str, fn, timed: bool = False):
    """Run one operation; returns (result or None, seconds).  A ``timed``
    operation's wall and CPU time are added to the run's samples."""
    out.attempted += 1
    cpu = tree_cpu_s(os.getpid()) if timed else 0.0
    span = rec.open(kind) if rec else None
    t = time.perf_counter()
    result = None
    try:
        result = fn()
    except Exception:  # noqa: BLE001 - counted as failed, the loop goes on
        traceback.print_exc()
        out.fail(what)
    dt = time.perf_counter() - t
    if rec:
        rec.close(span)
        rec.resolve()
    if timed:
        out.op_s.append(dt)
        out.cpu_s.append(tree_cpu_s(os.getpid()) - cpu)
    return result, dt


class Medallion:
    """History load, then incremental batches through ``SalesPipeline.run``."""

    op_kind = "op.batch"

    def __init__(self, work: str, seed: int):
        import gen

        # batches are written one at a time between timed operations
        self.csvs = gen.sales_csvs(seed, os.path.join(work, "landing"), HISTORY_ROWS, BATCH_ROWS)
        self.loaded = [next(self.csvs)]
        self.zones = os.path.join(work, "zones")

    def warm_up(self, spark) -> None:
        from sales_azure_data_engineer_project_spark.io import read_csv
        from sales_azure_data_engineer_project_spark.schemas import RAW_SALES_SCHEMA

        read_csv(spark, self.loaded[0], schema=RAW_SALES_SCHEMA).count()

    def run(self, spark, seconds: float, out: Outcome, rec) -> None:
        import gen
        from check import medallion_mismatches
        from sales_azure_data_engineer_project_spark.plans.pipeline import SalesPipeline

        pipe = SalesPipeline(spark, self.zones)
        if rec:
            rec.install()
        # the history load is the write path's warm-up as well as a metric
        _, out.info["initial_load_s"] = timed_op(
            out, rec, "op.initial_load", "initial load", lambda: pipe.run(self.loaded[0]))
        while len(out.op_s) < MIN_BATCHES or sum(out.op_s) < seconds:
            path = next(self.csvs)  # untimed
            timed_op(out, rec, self.op_kind, f"batch {path}", lambda p=path: pipe.run(p), timed=True)
            self.loaded.append(path)
        if rec:
            rec.uninstall()
        self.inputs_sha = gen.digest(self.loaded)
        out.info["batch_rows_per_s"] = BATCH_ROWS * len(out.op_s) / sum(out.op_s)
        written, on_disk, current, versions = gold_bytes(pipe.gold)
        out.info["gold_write_amp"] = written / sum(os.path.getsize(p) for p in self.loaded[1:])
        out.info["gold_space_amp"] = on_disk / current
        out.info["versions_on_disk"] = versions
        out.attempted += 1
        t = time.perf_counter()
        try:
            bad = {k: v for k, v in medallion_mismatches(self.loaded, pipe.gold).items() if v}
        except Exception:  # noqa: BLE001 - a check that cannot run has failed
            traceback.print_exc()
            bad = {"check": "crashed"}
        for k, v in bad.items():
            out.fail(f"gold {k}: {v} mismatching rows")
        out.info["phase.check_s"] = time.perf_counter() - t


def gold_bytes(gold: str) -> tuple[int, int, int, int]:
    """(bytes of incremental commits, bytes on disk, bytes of the current
    versions, version directories) over all gold tables; version 1 of each
    table is the history load's commit."""
    written = on_disk = current = versions = 0
    for table in os.listdir(gold):
        root = os.path.join(gold, table)
        if not os.path.isfile(os.path.join(root, "_VERSION")):
            continue
        with open(os.path.join(root, "_VERSION")) as f:
            cur = int(f.read())
        for d in os.listdir(root):
            if not d.startswith("v="):
                continue
            versions += 1
            size = sum(os.path.getsize(os.path.join(dp, n))
                       for dp, _, names in os.walk(os.path.join(root, d)) for n in names)
            on_disk += size
            current += size if int(d[2:]) == cur else 0
            written += size if int(d[2:]) > 1 else 0
    return written, on_disk, current, versions


class Queries:
    """Star and corpus queries in a seeded order, whole passes."""

    op_kind = "op.query"

    def __init__(self, work: str, seed: int):
        import numpy as np

        import gen
        from sales_azure_data_engineer_project_spark.schemas import TESTDATA_TABLES

        self.sf_dir = os.path.join(work, "corpus")
        self.tables = TESTDATA_TABLES
        self.inputs_sha = gen.digest(gen.corpus_tables(seed, self.sf_dir, self.tables))
        self.rng = np.random.default_rng([seed, 3])

    def warm_up(self, spark) -> None:
        from sales_azure_data_engineer_project_spark.io import load_testdata

        for t in self.tables:
            load_testdata(spark, self.sf_dir, t)

    def _pass(self) -> list[str]:
        names = STAR + CORPUS
        return [names[i] for i in self.rng.permutation(len(names))]

    def run(self, spark, seconds: float, out: Outcome, rec) -> None:
        import __spark_entry__ as entry
        from check import canon_frame, oracle_connection, oracle_mismatch
        from sales_azure_data_engineer_project_spark import caching

        queries, oracles = entry.queries(), entry.oracle_sql()
        build_s: dict[str, float] = {}  # time to build the DataFrame, per query

        def query(name):
            def op():
                t = time.perf_counter()
                build_s[name] = 0.0
                df = queries[name](spark, self.sf_dir)
                build_s[name] = time.perf_counter() - t
                try:
                    return df.toPandas()
                finally:
                    caching.release_caches()  # looked up per call, so the recorder sees it
            return op

        # untimed warm pass; its results are the ones checked against the oracles
        t = time.perf_counter()
        checked = {n: timed_op(out, None, "", f"query {n}", query(n))[0] for n in self._pass()}
        out.info["phase.warm_s"] = time.perf_counter() - t
        con = oracle_connection(self.sf_dir, self.tables)
        for name, pdf in checked.items():
            out.attempted += 1
            try:
                why = "no result" if pdf is None else oracle_mismatch(pdf, con, oracles[name])
            except Exception as e:  # noqa: BLE001 - an oracle that cannot run fails the check
                why = f"oracle error {type(e).__name__}: {e}"
            if why:
                out.fail(f"{name}: {why}")
        con.close()

        if rec:
            rec.install()
        t = time.perf_counter()
        timed, build = [], []
        while not timed or sum(out.op_s) < seconds:
            for name in self._pass():
                pdf, dt = timed_op(out, rec, self.op_kind, f"query {name}", query(name), timed=True)
                build.append(build_s[name])
                timed.append((name, pdf, dt))
        if rec:
            rec.uninstall()
        out.info["phase.timed_s"] = time.perf_counter() - t
        out.info["query.build_s"] = statistics.fmean(build)
        out.info["query.exec_s"] = statistics.fmean(out.op_s) - out.info["query.build_s"]
        for family, names in (("star", STAR), ("corpus", CORPUS)):
            out.info[f"{family}.query_p50_s"] = statistics.median(dt for n, _, dt in timed if n in names)
        for name in STAR + CORPUS:
            out.info[f"q.{name}.s"] = statistics.median(dt for n, _, dt in timed if n == name)
        for name, pdf, _ in timed:  # every timed result must equal the checked one
            out.attempted += 1
            if pdf is None or checked[name] is None or canon_frame(pdf) != canon_frame(checked[name]):
                out.fail(f"{name}: timed result differs from the checked result")


WORKLOADS = {"medallion_incremental": Medallion, "star_corpus_queries": Queries}


# -- metrics -----------------------------------------------------------------

def tail(values: list[float]) -> tuple[float, int] | None:
    """Highest of p99/p95/p90/p75/p50 with at least ten samples beyond it."""
    for p in (99, 95, 90, 75, 50):
        if len(values) * (100 - p) / 100 >= 10:
            return statistics.quantiles(values, n=100, method="inclusive")[p - 1], p
    return None


def end_to_end(setup: list[float], out: Outcome) -> dict[str, float]:
    return {"setup_s": statistics.median(setup), "cpu_s_per_op": statistics.fmean(out.cpu_s)}


def report_lines(workload: str, setup: list[float], out: Outcome, session: dict[str, float]) -> list[str]:
    """Every end-to-end metric of the workload under its own name, with its
    unit and sample count."""
    n = len(out.op_s)
    p50, per_s = statistics.median(out.op_s), n / sum(out.op_s)
    rows = [("setup_s", statistics.median(setup), "s", len(setup)),
            ("cpu_s_per_op", statistics.fmean(out.cpu_s), "s", n)]
    if workload == "medallion_incremental":
        rows += [("initial_load_s", out.info["initial_load_s"], "s", 1),
                 ("batch_p50_s", p50, "s", n),
                 ("batch_rows_per_s", out.info["batch_rows_per_s"], "1/s", n),
                 ("gold_write_amp", out.info["gold_write_amp"], "ratio", 1),
                 ("gold_space_amp", out.info["gold_space_amp"], "ratio", 1)]
    else:
        t = tail(out.op_s)
        rows += [("query_p50_s", p50, "s", n),
                 (f"query_tail_s(p{t[1]})" if t else "query_tail_s", t[0] if t else float("nan"), "s", n),
                 ("queries_per_s", per_s, "1/s", n)]
    rows += [("error_rate", out.failed / out.attempted, "ratio", out.attempted),
             ("peak_rss_mb", session["process.peak_rss_mb"], "MB", 1),
             ("session.launch_s", session["session.launch_s"], "s", 1)]
    lines = [f"  {k:<32} {v:>14.6g} {u:<6} n={c}" for k, v, u, c in rows]
    if workload != "medallion_incremental":
        if not tail(out.op_s):
            lines.append(f"  (query_tail_s needs at least 20 samples for p50 with ten beyond it; have {n})")
        lines.append("  per-query median s: " + " ".join(
            f"{q}={out.info[f'q.{q}.s']:.3f}" for q in STAR + CORPUS))
    return lines


def per_layer(rec, workload, out: Outcome, session: dict[str, float], cores: int) -> dict[str, float]:
    """Per-layer metrics from the recorded spans; values are per timed
    operation unless the name says otherwise, 0 where a layer is bypassed."""
    spans = rec.spans
    incl = [dict.fromkeys(("jobs", "tasks", *SPARK.values(), *QUERY), 0.0) for _ in spans]
    root = [None] * len(spans)
    for s in spans:
        a = s
        while a is not None:
            for k in incl[a.sid]:
                incl[a.sid][k] += s.counts.get(k, 0.0)
            root[s.sid] = a
            a = a.parent
    ops = [s for s in spans if s.name == workload.op_kind]
    n = len(ops)
    timed = [s for s in spans if root[s.sid].name == workload.op_kind]

    def nested(s):  # inside another span of the same name
        a = s.parent
        while a is not None and a.name != s.name:
            a = a.parent
        return a is not None

    def total(name, f, outer=True):
        return sum(f(s) for s in timed if s.name == name and not (outer and nested(s)))

    m = dict(session)
    for layer in SPAN_LAYERS:
        m[f"{layer}.s"] = total(layer, lambda s: s.dur) / n
        m[f"{layer}.self_s"] = total(layer, lambda s: s.self_s, outer=False) / n
        m[f"{layer}.jobs"] = total(layer, lambda s: incl[s.sid]["jobs"]) / n
    for layer in CALL_LAYERS:
        m[f"{layer}.calls"] = total(layer, lambda s: 1, outer=False) / n
    initial = [s for s in spans if s.name == "op.initial_load"]
    m["pipeline.initial_load.s"] = out.info.get("initial_load_s", 0.0)
    m["pipeline.initial_load.jobs"] = sum(incl[s.sid]["jobs"] for s in initial)
    m["pipeline.initial_load.tasks"] = sum(incl[s.sid]["tasks"] for s in initial)
    m["pipeline.batch_rows_per_s"] = out.info.get("batch_rows_per_s", 0.0)
    m["io.ingest_bronze.tasks"] = total("pipeline.ingest_bronze", lambda s: incl[s.sid]["tasks"]) / n
    m["versioned.merge.bytes_written"] = total("versioned.merge", lambda s: s.counts.get("bytes_written", 0)) / n
    m["versioned.merge.files_written"] = total("versioned.merge", lambda s: s.counts.get("files_written", 0)) / n
    m["versioned.versions_on_disk"] = out.info.get("versions_on_disk", 0)
    m["versioned.write_amp"] = out.info.get("gold_write_amp", 0.0)
    m["versioned.space_amp"] = out.info.get("gold_space_amp", 0.0)
    m["caching.release_caches.released"] = total("caching.release_caches", lambda s: s.counts.get("released", 0)) / n
    queries = workload.op_kind == "op.query"
    for k in QUERY:
        m[f"query.{k}"] = sum(incl[s.sid][k] for s in ops) / n if queries else 0.0
    for name, k in SPARK.items():
        m[f"spark.{name}"] = sum(incl[s.sid][k] for s in ops) / n
    wall = sum(s.dur for s in ops)
    m["spark.core_util"] = sum(incl[s.sid]["run_s"] for s in ops) / (wall * cores)
    m["trace.op_p50_s"] = statistics.median(s.dur for s in ops)
    m["trace.cpu_s_per_op"] = statistics.fmean(out.cpu_s)
    m["trace.recorder_s_per_op"] = rec.overhead_s / n
    for name, _, _ in per_layer_spec():
        m.setdefault(name, out.info.get(name, 0.0))
    return m


# -- main --------------------------------------------------------------------

def prepare_env(work: str) -> int:
    """Point every writer at ``work`` and pin the engine to all cores."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        # Python workers import the engine (mapInPandas / pandas UDFs)
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return cores


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="operation time to measure, per run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import __spark_entry__  # noqa: F401
        from sales_azure_data_engineer_project_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    # a terminated run still stops the JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sweep_stale_work()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    out = Outcome()
    try:
        cores = prepare_env(work)
        t = time.perf_counter()
        workload = WORKLOADS[args.workload](work, args.seed)  # inputs, untimed
        out.info["phase.inputs_s"] = time.perf_counter() - t
        with RssSampler() as rss:
            t = time.perf_counter()
            spark = get_spark(APP)  # starts the JVM
            session = {"session.launch_s": time.perf_counter() - t}
            out.info["phase.launch_s"] = session["session.launch_s"]
            try:
                # the first set-up includes the JVM launch; setup_s is the
                # median of the set-ups in the running JVM that follow it
                workload.warm_up(spark)
                out.info["phase.setup_s"] = time.perf_counter() - t - session["session.launch_s"]
                setup, builds = [], []
                for _ in range(SETUP_REPEATS - 1):
                    spark.stop()
                    t = time.perf_counter()
                    spark = get_spark(APP)
                    builds.append(time.perf_counter() - t)
                    workload.warm_up(spark)
                    setup.append(time.perf_counter() - t)
                session["session.get_spark_s"] = statistics.median(builds)
                out.info["phase.setup_s"] += sum(setup)
                rec = None
                if args.trace:
                    from spans import SpanRecorder

                    rec = SpanRecorder(spark)
                t = time.perf_counter()
                workload.run(spark, args.seconds, out, rec)
                out.info["phase.run_s"] = time.perf_counter() - t
                session["process.peak_rss_mb"] = rss.peak
            finally:
                t = time.perf_counter()
                stop_jvm(spark)
                out.info["phase.stop_s"] = time.perf_counter() - t
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass

    out.info["phase.total_s"] = time.perf_counter() - T0
    n = len(out.op_s)
    print(f"workload={args.workload} seed={args.seed} inputs_sha256={workload.inputs_sha} "
          f"cores={cores} trace={args.trace} timed_ops={n}")
    print(f"  op latencies s: {[round(s, 3) for s in out.op_s]}")
    print("\n".join(report_lines(args.workload, setup, out, session)))
    print("  phases s: " + " ".join(f"{k[6:-2]}={v:.1f}" for k, v in out.info.items() if k.startswith("phase.")))
    if args.trace:
        values = per_layer(rec, workload, out, session, cores)
        metrics = {name: {"value": values[name], "unit": unit} for name, unit, _ in per_layer_spec()}
        print(f"  per-layer metrics, per timed operation (n={n}) unless named otherwise:")
        for name, m in metrics.items():
            print(f"  {name:<40} {m['value']:>14.6g} {m['unit']}")
    else:
        values = end_to_end(setup, out)
        metrics = {k: {"value": values[k], "unit": u} for k, (u, _) in END_TO_END.items()}
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0 if out.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
