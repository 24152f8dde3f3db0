"""A/B benchmark for the bank ETL and the operator library.

Run from the repository root:

    python3 perfbench/run.py --workload bank_etl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

One process, ``local[nproc]``, a closed loop that runs one pass at a
time and no threads of its own. A run generates its inputs from
``--seed``, sets the session up several times (session start plus one
warm-up pass, each with a fresh staging cache), measures passes for
``--seconds``, then checks the outputs without timing them. ``wall_s``
takes out of each pass the delay the hypervisor's CPU steal caused
(``steal_free_wall``). The last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A human-readable
summary (median, quartiles, sample count) goes to standard error, and
the full record to ``perfbench/.out/``.

See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procfs  # noqa: E402

SETUPS = 3  # set-ups per run; setup_s is their median
# under heavy steal a pass takes twice as long; a higher minimum would
# let such runs overrun the A/B check's time budget
MIN_PASSES = 3
TRACE_PASSES = 2  # minimum passes of each half of a traced run
# untimed passes after the set-ups: the JIT is still compiling through
# the first passes, and their CPU time runs about 40% above later ones
SETTLE_PASSES = 1
DRIVER_MEM = "1g"

# library_mix covers the library's layers with one query each: eager
# build-time jobs and joins (assortativity), a streaming availableNow
# drain inside its builder (stream_window_agg) and Python workers
# (media_phash). README.md says what was left out to fit the run-time
# budget.
LIBRARY_SF = 0.001
LIBRARY_QUERIES = ["assortativity", "stream_window_agg", "media_phash"]
ETL_LINES = 30_000
WORKLOADS = ["bank_etl", "library_mix"]

END_TO_END = {
    "wall_s": "s",
    "cpu_s": "s",
    "rows_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "success_ratio": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.parquet_reads": "count",
    "sources.read_s": "s",
    "build.s": "s",
    "build.jobs": "count",
    "plan.s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.task_skew": "ratio",
    "python.worker_cpu_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_s": "s",
    "streaming.drain_overhead_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB",
    "pipeline.input_scans": "count",
    "sinks.good_s": "s",
    "sinks.bad_s": "s",
    "sinks.stats_s": "s",
    "sinks.bytes_out_per_byte_in": "ratio",
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
    "host.loadavg_start": "load",
    "host.loadavg_end": "load",
    **{f"build.s.{q}": "s" for q in LIBRARY_QUERIES},
    **{f"exec.s.{q}": "s" for q in LIBRARY_QUERIES},
}


class RunError(Exception):
    """The benchmark cannot run here (wrong directory, bad setting)."""


# ------------------------------------------------------------ isolation

def isolate(work: str) -> None:
    """Give this run its own caches, temp dirs and core count.

    Must run before the JVM starts: SPARK_LOCAL_DIRS, the JVM temp dir
    and the Python workers' PYTHONPATH are read at launch."""
    if os.environ.get("SPARK_GRAFT_NO_FANOUT"):
        raise RunError("SPARK_GRAFT_NO_FANOUT is set; it changes the program under test")
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local")):
        os.makedirs(d)
    os.environ.update(
        {
            "XDG_CACHE_HOME": os.path.join(work, "xdg0"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options {shlex.quote('-Djava.io.tmpdir=' + tmp)} pyspark-shell"
            ),
        }
    )
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    os.chdir(work)  # spark-warehouse / derby.log land in the run dir


def stop_jvm() -> None:
    """Stop the session and the py4j JVM, and wait for the JVM to end."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------- workloads

class Etl:
    """``plans.pipeline.main`` on a generated CSV, JSON sinks + stats."""

    def __init__(self, work: str, seed: int) -> None:
        self.csv = os.path.join(work, "bank.csv")
        self.truth = gen.bank_csv(self.csv, ETL_LINES, seed)
        self.out = os.path.join(work, "etl_out")
        self.names = ["etl"]
        self.input_rows = ETL_LINES

    def run_op(self, spark, name: str, tr: Tracer | None) -> None:
        from banking_data_etl_pipeline_spark.plans import pipeline

        o = self.out
        with _span(tr, "etl", query=name):
            pipeline.main(
                [
                    "--input_path", self.csv,
                    "--output_table", os.path.join(o, "good"),
                    "--error_table", os.path.join(o, "bad"),
                    "--stats_table", os.path.join(o, "stats"),
                ]
            )

    def out_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.out)
            for f in fs
            if not f.startswith((".", "_"))
        )

    def check(self, spark) -> dict[str, str]:
        """Compare the sinks with the generator's ground truth."""
        o = self.out
        good = spark.read.json(os.path.join(o, "good"))
        bad = spark.read.json(os.path.join(o, "bad"))
        stats = spark.read.parquet(os.path.join(o, "stats"))
        problems = []
        if len(good.schema.fields) != 29:
            problems.append(f"good schema has {len(good.schema.fields)} fields")
        if sorted(bad.columns) != ["error_message", "error_type", "raw_data", "timestamp"]:
            problems.append(f"error schema {sorted(bad.columns)}")
        n_good = good.count()
        if n_good != self.truth["good"]:
            problems.append(f"good rows {n_good} != {self.truth['good']}")
        got = {r["error_type"]: r["count"] for r in bad.groupBy("error_type").count().collect()}
        if got != self.truth["errors"]:
            problems.append(f"error counts {got} != {self.truth['errors']}")
        got = {r["error_type"]: r["count"] for r in stats.collect()}
        if got != self.truth["errors"]:
            problems.append(f"stats {got} != {self.truth['errors']}")
        return {"etl": "; ".join(problems)} if problems else {}


class Mix:
    """Registered queries over generated tables, each forced with a noop
    write, as ``bench.py`` does."""

    def __init__(self, work: str, seed: int) -> None:
        import __spark_entry__ as entry

        self.names = LIBRARY_QUERIES
        self.sf_dir = os.path.join(work, "tables")
        rows = gen.tables(self.sf_dir, LIBRARY_SF, seed)
        self.input_rows = sum(rows.values())
        self.queries = entry.queries()
        self.oracle = entry.oracle_sql()

    def run_op(self, spark, name: str, tr: Tracer | None) -> None:
        with _span(tr, "query", query=name):
            with _span(tr, "build", query=name):
                df = self.queries[name](spark, self.sf_dir)
            if tr is not None:
                with _span(tr, "plan", query=name):
                    df._jdf.queryExecution().executedPlan()
            with _span(tr, "exec", query=name):
                df.write.format("noop").mode("overwrite").save()

    def check(self, spark) -> dict[str, str]:
        """Each query against its DuckDB twin, by canonical value hash."""
        import duckdb

        sys.path.insert(0, os.path.join(ROOT, "scripts"))
        from parity import canon_frame

        con = duckdb.connect()
        try:
            for t in ("region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"):
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            bad = {}
            for q in self.names:
                try:
                    got = canon_frame(self.queries[q](spark, self.sf_dir).toPandas())
                    want = canon_frame(con.execute(self.oracle[q]).df())
                except Exception as e:  # noqa: BLE001 - reported as a failed check
                    bad[q] = f"{type(e).__name__}: {str(e)[:300]}"
                    continue
                finally:
                    spark.catalog.clearCache()
                if got[:3] != want[:3]:
                    bad[q] = f"rows {got[0]} vs {want[0]}, cols {got[1] == want[1]}, hash differs"
            return bad
        finally:
            con.close()


# ------------------------------------------------------------- the loop

from spans import Tracer  # noqa: E402


def _span(tr: Tracer | None, name: str, **attrs):
    return tr.span(name, **attrs) if tr is not None else contextlib.nullcontext()


def run_pass(spark, wl, order: list[str], tr: Tracer | None, log: dict) -> dict:
    """One pass over ``order``; returns its wall, CPU and load figures."""
    pid = os.getpid()
    load0 = procfs.loadavg()
    steal0 = procfs.steal_s()
    cpu0, py0 = procfs.cpu(pid)
    t0 = time.time()
    with _span(tr, "pass"):
        for name in order:
            log["attempted"][name] = log["attempted"].get(name, 0) + 1
            try:
                wl.run_op(spark, name, tr)
            except Exception as e:  # noqa: BLE001 - a failed operation is data
                log["raised"][name] = log["raised"].get(name, 0) + 1
                log["errors"].append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            finally:
                spark.catalog.clearCache()
    t1 = time.time()
    cpu1, py1 = procfs.cpu(pid)
    return {
        "start": t0,
        "end": t1,
        "wall_s": t1 - t0,
        "cpu_s": cpu1 - cpu0,
        "python_cpu_s": py1 - py0,
        "loadavg_start": load0,
        "loadavg_end": procfs.loadavg(),
        "steal_s": procfs.steal_s() - steal0,
    }


def measure(spark, wl, seed: int, seconds: float, tr: Tracer | None, log: dict,
            min_passes: int = MIN_PASSES) -> list[dict]:
    rng = random.Random(seed)
    passes: list[dict] = []
    t_end = time.time() + seconds
    while len(passes) < min_passes or time.time() < t_end:
        order = list(wl.names)
        rng.shuffle(order)
        passes.append(run_pass(spark, wl, order, tr, log))
    return passes


def steal_free_wall(p: dict) -> float:
    """A pass's (or set-up's) wall time less the delay the hypervisor's
    CPU steal caused.

    On a shared host the VM's vCPUs wait for the host's CPUs whenever
    other guests are busy; ``/proc/stat`` counts that time as steal, and
    it slowed single passes by up to 50%, in episodes that outlast a run.
    The program is the only load in the VM, so the steal fell on its
    threads: they asked for ``cpu_s + steal_s`` CPU-seconds and got
    ``cpu_s``. Without steal they would have ended in that share of the
    wall time."""
    return p["wall_s"] * p["cpu_s"] / (p["cpu_s"] + p["steal_s"])


def quartiles(values: list[float]) -> dict:
    if len(values) < 2:
        v = values[0] if values else 0.0
        return {"median": v, "q1": v, "q3": v, "n": len(values)}
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "n": len(values)}


def _med(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def layer_metrics(tr: Tracer, passes: list[dict], jobs: list[dict], progress: list[dict],
                  wl, untraced_wall: float, start_times: list[float]) -> dict[str, float]:
    """Per-pass layer figures from spans, event-log jobs and streaming
    progress, reduced to medians over the traced passes."""
    phases = [s for s in tr.spans if s["name"] in ("build", "plan", "exec", "etl")]

    def phase_of(t: float):
        for s in phases:
            if s["start"] <= t < (s["end"] or t):
                return s
        return None

    for j in jobs:
        ph = phase_of(j["submit"])
        j["phase"] = ph["name"] if ph else None
    per: dict[str, list[float]] = {}

    def add(key: str, v: float) -> None:
        per.setdefault(key, []).append(v)

    for p in passes:
        lo, hi = p["start"], p["end"]
        pj = [j for j in jobs if lo <= j["submit"] < hi]
        ex = [j for j in pj if j["phase"] in ("exec", "etl")]
        n_read, read_s = tr.total("sources.parquet", lo, hi)
        add("sources.parquet_reads", n_read)
        add("sources.read_s", read_s)
        add("build.s", tr.total("build", lo, hi)[1])
        add("build.jobs", sum(1 for j in pj if j["phase"] == "build"))
        add("plan.s", tr.total("plan", lo, hi)[1])
        add("exec.s", tr.total("exec", lo, hi)[1] + tr.total("etl", lo, hi)[1])
        add("exec.jobs", len(ex))
        add("exec.stages", sum(j["stages"] for j in ex))
        add("exec.tasks", sum(j["tasks"] for j in ex))
        add("exec.task_cpu_s", sum(j["cpu_s"] for j in ex))
        add("exec.gc_s", sum(j["gc_s"] for j in ex))
        add("exec.input_mb", sum(j["input_bytes"] for j in ex) / 2**20)
        add("exec.shuffle_read_mb", sum(j["shuffle_read_bytes"] for j in ex) / 2**20)
        add("exec.shuffle_write_mb", sum(j["shuffle_write_bytes"] for j in ex) / 2**20)
        add("exec.spill_mb", sum(j["spill_bytes"] for j in ex) / 2**20)
        add("exec.task_skew", max([j["skew"] for j in ex], default=1.0))
        add("python.worker_cpu_s", p["python_cpu_s"])
        add("pipeline.input_scans", sum(1 for j in ex if j["input_bytes"] > 0))
        for kind in ("good", "bad", "stats"):
            add(f"sinks.{kind}_s", tr.total("sinks.write", lo, hi, ("sink", kind))[1])
        add("sinks.bytes_out_per_byte_in", wl.out_bytes() / os.path.getsize(wl.csv)
            if isinstance(wl, Etl) else 0.0)
        # streaming: progress events whose trigger started in this pass
        ev = [e for e in progress if lo <= e["start"] < hi]
        last: dict[str, dict] = {}
        for e in sorted(ev, key=lambda e: (e["start"], e["batch"])):
            last[e["run"]] = e
        trigger = sum(e["dur_s"] for e in ev)
        stream_build = sum(
            s["end"] - s["start"]
            for s in phases
            if s["name"] == "build" and lo <= s["start"] < hi
            and any(s["start"] <= e["start"] < s["end"] for e in ev)
        )
        add("streaming.batches", len(ev))
        add("streaming.input_rows", sum(e["rows"] for e in ev))
        add("streaming.trigger_s", trigger)
        add("streaming.drain_overhead_s", stream_build - trigger if ev else 0.0)
        add("streaming.state_rows", sum(e["state_rows"] for e in last.values()))
        add("streaming.state_mem_mb", sum(e["state_bytes"] for e in last.values()) / 2**20)
        for q in LIBRARY_QUERIES:
            add(f"build.s.{q}", tr.total("build", lo, hi, ("query", q))[1])
            add(f"exec.s.{q}", tr.total("exec", lo, hi, ("query", q))[1])
        add("host.loadavg_start", p["loadavg_start"])
        add("host.loadavg_end", p["loadavg_end"])
    out = {k: _med(v) for k, v in per.items()}
    traced_wall = _med([p["wall_s"] for p in passes])
    out["session.start_s"] = _med(start_times)
    out["trace.wall_s"] = traced_wall
    out["trace.untraced_wall_s"] = untraced_wall
    out["trace.overhead_s"] = traced_wall - untraced_wall
    return out


def _enable_event_log(spark, log_dir: str) -> None:
    """Turn the event log on for the NEXT SparkContext in this JVM:
    SparkConf loads ``spark.*`` JVM system properties as defaults."""
    system = spark.sparkContext._jvm.java.lang.System
    system.setProperty("spark.eventLog.enabled", "true")
    system.setProperty("spark.eventLog.dir", "file://" + log_dir)
    system.setProperty("spark.eventLog.compress", "false")


def _drain_listener(listener, quiet_s: float = 0.5, max_s: float = 5.0) -> None:
    """Progress events arrive asynchronously; wait until they stop."""
    t_end = time.time() + max_s
    seen = -1
    while time.time() < t_end and seen != len(listener.events):
        seen = len(listener.events)
        time.sleep(quiet_s)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        raise RunError(f"{ROOT} holds no __spark_entry__.py; run from a repository checkout")
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-", dir=os.path.join(HERE, ".work"))
    try:
        isolate(work)
        wl = Etl(work, seed) if workload == "bank_etl" else Mix(work, seed)
        marks = {"inputs": time.time()}
        from banking_data_etl_pipeline_spark.session import get_spark

        log = {"attempted": {}, "raised": {}, "errors": []}
        setups, starts = [], []
        spark = None
        for k in range(SETUPS):
            os.environ["XDG_CACHE_HOME"] = os.path.join(work, f"xdg{k}")
            if spark is not None:
                spark.stop()
            t0, cpu0, steal0 = time.time(), procfs.cpu(os.getpid())[0], procfs.steal_s()
            spark = get_spark("perfbench")
            starts.append(time.time() - t0)
            run_pass(spark, wl, list(wl.names), None, log)
            setups.append({
                "wall_s": time.time() - t0,
                "cpu_s": procfs.cpu(os.getpid())[0] - cpu0,
                "steal_s": procfs.steal_s() - steal0,
            })
        for _ in range(SETTLE_PASSES):
            run_pass(spark, wl, list(wl.names), None, log)
        marks["setups"] = time.time()
        # a traced run measures untraced only to state the tracing overhead
        passes = measure(spark, wl, seed, 0 if trace else seconds, None, log,
                         TRACE_PASSES if trace else MIN_PASSES)
        marks["passes"] = time.time()
        check_failed = wl.check(spark)
        marks["check"] = time.time()
        peak = procfs.peak_rss_mb(os.getpid())
        record = {"workload": workload, "seed": seed, "setups": setups, "passes": passes}
        if trace:
            log_dir = os.path.join(work, "eventlog")
            os.makedirs(log_dir)
            _enable_event_log(spark, log_dir)
            spark.stop()
            spark = get_spark("perfbench-traced")
            from spans import parse_event_log, patch, progress_listener

            listener = progress_listener()
            spark.streams.addListener(listener)
            tr = Tracer()
            undo = patch(tr)
            try:
                run_pass(spark, wl, list(wl.names), tr, log)  # warm-up
                traced = measure(spark, wl, seed + 1, seconds / 2, tr, log, TRACE_PASSES)
                _drain_listener(listener)
            finally:
                for u in undo:
                    u()
            spark.stop()
            jobs = parse_event_log(log_dir)
            record["traced_passes"] = traced
            record["layers"] = layer_metrics(
                tr, traced, jobs, listener.events, wl,
                _med([p["wall_s"] for p in passes]), starts,
            )
            os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
            tr.write(os.path.join(HERE, ".out", f"spans-{workload}-seed{seed}.json"))
        marks["end"] = time.time()
        record["marks"] = {k: v - T0 for k, v in marks.items()}
        attempted = sum(log["attempted"].values())
        failed = sum(
            n if q in check_failed else log["raised"].get(q, 0)
            for q, n in log["attempted"].items()
        )
        walls = [steal_free_wall(p) for p in passes]
        record.update(
            {
                "attempted": attempted,
                "failed": failed,
                "errors": log["errors"],
                "check_failed": check_failed,
                "wall_s": quartiles(walls),
                "wall_raw_s": quartiles([p["wall_s"] for p in passes]),
                "cpu_s": quartiles([p["cpu_s"] for p in passes]),
                "rows_per_s": quartiles([wl.input_rows / w for w in walls]),
                "setup_s": quartiles([steal_free_wall(s) for s in setups]),
                "peak_rss_mb": peak,
                "success_ratio": (attempted - failed) / attempted,
                "input_rows": wl.input_rows,
            }
        )
        return record
    finally:
        stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def result_line(record: dict, trace: bool) -> dict:
    if trace:
        metrics = {k: {"value": record["layers"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {
            k: {
                "value": record[k]["median"] if isinstance(record[k], dict) else record[k],
                "unit": u,
            }
            for k, u in END_TO_END.items()
        }
    return {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }


def summary(record: dict) -> str:
    lines = [f"# {record['workload']} seed={record['seed']} "
             f"attempted={record['attempted']} failed={record['failed']}"]
    for k, u in END_TO_END.items():
        v = record[k]
        if isinstance(v, dict):
            lines.append(
                f"{k:14s} {v['median']:12.4f} {u:6s} q1={v['q1']:.4f} q3={v['q3']:.4f} n={v['n']}"
            )
        else:
            lines.append(f"{k:14s} {v:12.4f} {u}")
    v = record["wall_raw_s"]
    lines.append(f"wall_s before removing steal: {v['median']:.4f} s q1={v['q1']:.4f} q3={v['q3']:.4f}")
    if record["workload"] == "bank_etl":
        lines.append("rows_per_s baseline: Beam reference 3970 rows/s (1M rows in 252 s)")
    for k, v in sorted(record.get("layers", {}).items()):
        lines.append(f"  {k:36s} {v:12.4f} {PER_LAYER[k]}")
    for e in record["errors"][:10]:
        lines.append(f"error: {e}")
    for q, why in record["check_failed"].items():
        lines.append(f"check failed: {q}: {why}")
    return "\n".join(lines)


def run_all(seed: int, seconds: float, trace: bool) -> int:
    """Every workload, each in its own process; one table at the end."""
    results, ok = {}, True
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{w}: exit {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        ok &= res["correct"]
        results[w] = res
        for k, m in res["metrics"].items():
            print(f"{w:11s} {k:36s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({
        "correct": ok,
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": m for w, r in results.items() for k, m in r["metrics"].items()},
    }))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args.seed, args.seconds, bool(args.trace))
    try:
        record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except RunError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(summary(record), file=sys.stderr)
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    with open(os.path.join(HERE, ".out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(result_line(record, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
