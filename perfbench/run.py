"""Benchmark of the retail ETL engine: closed-loop, single-client
workloads, each timed end to end, with every op's output checked.

Run from the repository root:

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 15 --trace 0

Workloads (see workloads.py for the op lists):

- ``daily_etl``: the two publish pipelines of a daily batch. An op is one
  ``pipeline.run_pipeline`` over the reference's five retail CSVs for a
  run date of a fixed week, a seeded half of the dates going through one
  passing expectation (stage-observe-promote), or one
  ``corpus_pipeline.run_corpus_pipeline`` over the documents table.
- ``analyst_sql``: one execution-dominated registered query per op.
- ``curation``: one registered ANN or co-purchase graph query whose
  driver-side build outweighs its execution, or one corpus publish, per
  op. It is not in BENCHMARK.json: its runs swing more with the box's
  load than the bounds allow, and a third workload's set-up passes do
  not fit the time the benchmark's runs are given. Run it by hand.

Inputs are generated from ``--seed`` before the engine's session starts;
the seed also sets the op order. With ``--trace 0`` the last stdout line
carries the end-to-end metrics; with ``--trace 1`` it carries per-layer
metrics from span recorders around the engine's public functions and from
Spark's event log. Every file the run writes lives under
``.perfbench_run/`` in the working directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import workloads as wl  # noqa: E402

WORKLOADS = ("daily_etl", "analyst_sql", "curation")
#: scale factor per workload (6,000,000 x sf lineitem rows). A daily_etl
#: op costs mostly its fixed per-op overhead at any small scale; at
#: analyst_sql's, each query's execution is several times its build.
SCALE = {"daily_etl": 0.002, "analyst_sql": 0.04, "curation": 0.001}
#: local[N] task slots and shuffle partitions, at most the box's cores
TASK_SLOTS = 4
DRIVER_MEMORY = "3g"
#: untimed passes over every distinct op before measuring, counted in
#: setup_s. Spark generates and compiles code per plan, and a run date is
#: a literal in the plan, so each date's code is new to the JIT: its ops
#: are ~25% slower on their second run than on their third and later.
WARMUP_PASSES = 2
#: a fixed micro-query timed between ops, outside op time
CANARY_ROWS = 2_000_000


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor")
    ap.add_argument("--max-ops", type=int, default=None,
                    help="stop after this many timed ops")
    return ap.parse_args(argv)


# --------------------------------------------------------------------------
# weather: machine CPU not owned by this run
# --------------------------------------------------------------------------

def _proc_tree_ticks(root_pid: int) -> tuple[int, list[int]]:
    """(utime+stime of root_pid and all its descendants, descendant pids)."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    tree = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return sum(ticks.get(p, 0) for p in tree), sorted(tree - {root_pid})


def _cpu_ticks() -> dict[str, int]:
    """Machine-wide CPU ticks from /proc/stat: busy (user, nice, system,
    irq, softirq), iowait, steal (time the hypervisor gave this VM's
    CPUs to someone else) and the total of all of them plus idle."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, idle, iowait, irq, softirq, steal = v + [0] * (8 - len(v))
    return {"busy": user + nice + system + irq + softirq, "iowait": iowait,
            "steal": steal, "total": sum(v)}


def _summed_ticks(recs) -> tuple[dict[str, int], dict[str, int]]:
    """A (start, end) pair of tick samples spanning just the ops' own time."""
    end = {k: sum(r["cpu"][1][k] - r["cpu"][0][k] for r in recs)
           for k in recs[0]["cpu"][0]}
    return dict.fromkeys(end, 0), end


def _tick_fracs(a: dict[str, int], b: dict[str, int]) -> dict[str, float]:
    """Shares of all CPU time between two _cpu_ticks() samples that went
    to steal and to iowait."""
    total = max(b["total"] - a["total"], 1)
    return {"steal_frac": (b["steal"] - a["steal"]) / total,
            "iowait_frac": (b["iowait"] - a["iowait"]) / total}


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# --------------------------------------------------------------------------
# run state
# --------------------------------------------------------------------------

class RunDir:
    """This run's private directories, empty at start and removed at exit:
    generated fixtures, retail CSVs, output tables, the event log, Spark's
    local dir, temp files and the SQL warehouse."""

    SUBDIRS = ("sf", "inputs", "out", "events", "local", "tmp", "warehouse")

    def __init__(self, root: str, workload: str):
        self.path = os.path.join(root, ".perfbench_run", f"{workload}-{os.getpid()}")
        for sub in self.SUBDIRS:
            d = os.path.join(self.path, sub)
            os.makedirs(d, exist_ok=True)
            if os.listdir(d):
                raise RuntimeError(f"run directory {d} is not empty")
            setattr(self, sub, d)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)
        except OSError:
            pass


def _pin_environment(root: str, rd: RunDir, cpus: int) -> None:
    """Session settings fixed for every run: task slots, shuffle width,
    driver heap sized for a small box, UI off, all scratch in the run dir."""
    for var in ("SPARK_MASTER", "SPARK_LOCAL_DIRS", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_SHUFFLE_PARTITIONS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_LOCAL_DIR": rd.local,
        "SPARK_UI_ENABLED": "false",
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": rd.tmp,
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    })
    tempfile.tempdir = rd.tmp


def _spark_conf(rd: RunDir, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={rd.tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": rd.warehouse,
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf["spark.eventLog.dir"] = "file://" + rd.events
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def _schedule(ops: list, seed: int):
    """Rounds of seeded permutations of the distinct ops, so every run
    carries the same op mix up to its last, partial round."""
    rng = random.Random(seed)
    while True:
        batch = list(ops)
        rng.shuffle(batch)
        yield from batch


def _weighted_quantile(pairs: list[tuple[float, float]], q: float) -> float:
    """The q-quantile of weighted (value, weight) samples, interpolated
    linearly between the midpoints of the samples' cumulative weight (with
    equal weights, the usual median and the Hazen percentile). Averaging
    the two samples around q steadies a tail taken from a dozen ops."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    acc, points = 0.0, []
    for v, w in pairs:
        points.append(((acc + w / 2) / total, v))
        acc += w
    if q <= points[0][0]:
        return points[0][1]
    for (p0, v0), (p1, v1) in zip(points, points[1:]):
        if q <= p1:
            return v0 + (v1 - v0) * (q - p0) / (p1 - p0)
    return points[-1][1]


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

class Bench:
    def __init__(self, args, rd: RunDir):
        self.args = args
        self.rd = rd
        self.workload = args.workload
        self.trace = bool(args.trace)
        self.spark = None
        self.tracer = None

    # -- ops ---------------------------------------------------------------

    def _group(self, name: str) -> None:
        """Tag the Spark jobs that follow, so the event log splits them by
        op and phase; the tagging cost counts as tracing bookkeeping."""
        if self.trace:
            t0 = time.perf_counter()
            self.spark.sparkContext.setJobGroup(name, name)
            if self.tracer.op is not None:
                self.tracer.bookkeeping_s += time.perf_counter() - t0

    def run_op(self, op, tag: str):
        t = self.tracer
        if op.kind == "query":
            self._group(f"{tag}:build")
            with t.span("build"):
                df = self.queries[op.query](self.spark, self.rd.sf)
            self._group(f"{tag}:plan")
            with t.span("plan"):
                df._jdf.queryExecution().executedPlan()
            self._group(f"{tag}:exec")
            with t.span("exec"):
                return df.toArrow()
        self._group(f"{tag}:exec")
        if op.kind == "pipeline":
            with t.span("exec"):
                return self.pipeline.run_pipeline(
                    self.spark, op.run_date, self.rd.inputs,
                    os.path.join(self.rd.out, "weekly_summary"),
                    expectations=wl.expectations() if op.gated else None,
                )
        with t.span("exec"):
            docs = self.spark.read.parquet(os.path.join(self.rd.sf, "documents.parquet"))
            return self.corpus_pipeline.run_corpus_pipeline(
                self.spark, docs, os.path.join(self.rd.out, "corpus")
            )

    def cleanup(self) -> float:
        """Drop state an op leaves behind, so no op reuses another's work."""
        self._group("cleanup")
        t0 = time.perf_counter()
        self.similarity.clear_trained_state(self.spark)
        self.graph.clear_materialized_edges(self.spark)
        self.spark.catalog.clearCache()
        return time.perf_counter() - t0

    def canary(self) -> float:
        self._group("canary")
        t0 = time.perf_counter()
        self.spark.range(CANARY_ROWS).selectExpr("sum(id * 7 % 13)").collect()
        return time.perf_counter() - t0

    # -- phases ------------------------------------------------------------

    def setup(self) -> dict[str, float]:
        """Timed set-up: package import, session start, warm-up pass."""
        from spans import Tracer

        t0 = time.perf_counter()
        from retail_etl_pipeline_spark import corpus_pipeline, pipeline
        from retail_etl_pipeline_spark import io as eio
        from retail_etl_pipeline_spark import session
        from retail_etl_pipeline_spark.operators import graph, similarity
        from retail_etl_pipeline_spark.registry import QUERIES

        t_import = time.perf_counter() - t0
        self.pipeline, self.corpus_pipeline = pipeline, corpus_pipeline
        self.similarity, self.graph, self.queries = similarity, graph, QUERIES
        self.tracer = Tracer(enabled=self.trace)
        tr = self.tracer
        tr.wrap(pipeline, "readiness_check", "pipeline.readiness")
        tr.wrap(pipeline, "merged_from", "plans.build")
        tr.wrap(pipeline, "weekly_summary_from_merged", "plans.build")
        tr.wrap(eio, "read_csv", "io.read")
        tr.wrap(eio, "write_run_partition", "io.write")
        tr.wrap(pipeline, "run_pipeline", "pipeline")
        tr.wrap(corpus_pipeline, "prepare_corpus", "corpus.prepare")
        tr.wrap(corpus_pipeline, "run_corpus_pipeline", "corpus")
        self.ops = wl.ops_for(self.workload, self.args.seed)

        # inputs and expected outputs: untimed, before any JVM starts
        sf = self.args.sf or SCALE[self.workload]
        gen.write_fixtures(gen.fixture_tables(self.args.seed, sf), self.rd.sf)
        con = gen.duck(self.rd.sf)
        try:
            self.expected = wl.prepare(self.workload, con, self.rd.inputs)
        finally:
            con.close()

        t1 = time.perf_counter()
        self.spark = session.get_spark(
            app_name=f"perfbench-{self.workload}",
            extra_conf=_spark_conf(self.rd, self.trace),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter() - t1

        t2 = time.perf_counter()
        self._group("setup")
        self.warmup_errors = []
        self.warmup_ops = {}
        for _ in range(WARMUP_PASSES):
            for op in self.ops:
                t = time.perf_counter()
                result = self.run_op(op, "warmup")
                self.warmup_ops.setdefault(op.label, []).append(
                    round(time.perf_counter() - t, 4))
                err = wl.check(op, result, self.expected)
                if err:
                    self.warmup_errors.append(f"warm-up {op.label}: {err}")
                self.cleanup()
        self.canary()
        t_warm = time.perf_counter() - t2
        return {"import_s": t_import, "session_s": t_session, "warmup_s": t_warm}

    def measure(self) -> dict:
        sched = _schedule(self.ops, self.args.seed)
        me = os.getpid()
        ncpu = os.cpu_count() or 1
        hz = os.sysconf("SC_CLK_TCK")
        records = []
        cleanup_s = 0.0
        self.tracer.bookkeeping_s = 0.0
        deadline = time.perf_counter() + self.args.seconds
        while time.perf_counter() < deadline:
            if self.args.max_ops and len(records) >= self.args.max_ops:
                break
            op = next(sched)
            i = len(records)
            own0, _ = _proc_tree_ticks(me)
            cpu0 = _cpu_ticks()
            self.tracer.op = i
            err = None
            t0 = time.perf_counter()
            try:
                result = self.run_op(op, f"op{i}")
            except Exception as exc:  # one failed op must not end the run
                result, err = None, f"{type(exc).__name__}: {exc}"
            lat = time.perf_counter() - t0
            self.tracer.op = None
            own1, _ = _proc_tree_ticks(me)
            cpu1 = _cpu_ticks()
            if err is None:
                err = wl.check(op, result, self.expected)
            del result
            cleanup_s += self.cleanup()
            canary = self.canary()
            other = max(0, (cpu1["busy"] - cpu0["busy"]) - (own1 - own0)) / hz
            records.append({
                "op": op, "lat": lat, "err": err, "canary": canary,
                "other_frac": other / max(lat * ncpu, 1e-9),
                "cpu": (cpu0, cpu1),
            })
        return {"records": records, "cleanup_s": cleanup_s}

    # -- metrics -----------------------------------------------------------

    def end_to_end(self, setup: dict, m: dict) -> dict:
        """Latency quantiles and throughput of the workload's op mix.

        Every distinct op (one label) carries the same total weight, split
        over its runs, so a run's last, partial round of the seeded
        schedule does not tilt the mix. The tail is p90: at a dozen or so
        ops per run, no higher percentile has ten ops beyond it."""
        recs = m["records"]
        runs = Counter(r["op"].label for r in recs)
        w = [1.0 / runs[r["op"].label] for r in recs]
        lat = [(r["lat"], wi) for r, wi in zip(recs, w)]
        rated = [(wi, n, r["lat"]) for wi, r in zip(w, recs)
                 if (n := wl.input_items(self.workload, r["op"], self.expected)) is not None]
        return {
            "op_p50_s": (_weighted_quantile(lat, 0.5), "s"),
            "op_tail_s": (_weighted_quantile(lat, 0.9), "s"),
            "items_per_s": (sum(wi * n for wi, n, _ in rated)
                            / sum(wi * t for wi, _, t in rated), "1/s"),
            "setup_s": (sum(setup.values()), "s"),
        }

    def per_layer(self, setup: dict, m: dict, jvm_rss_mb: float) -> dict:
        from spans import EXEC_KEYS, read_event_log

        recs = m["records"]
        n = len(recs)
        tr = self.tracer
        total, self_t = tr.totals(set(range(n)))
        logs = os.listdir(self.rd.events)
        groups = read_event_log(os.path.join(self.rd.events, logs[0]))

        def phase(p: str) -> dict[str, float]:
            out = {k: 0.0 for k in EXEC_KEYS}
            out["skew_sum"] = out["skew_n"] = 0.0
            for i in range(n):
                g = groups.get(f"op{i}:{p}", {})
                for k in EXEC_KEYS:
                    out[k] += g.get(k, 0.0)
                out["skew_sum"] += g.get("task_max_over_median_sum", 0.0)
                out["skew_n"] += g.get("task_max_over_median_n", 0.0)
            return out

        ex, bu = phase("exec"), phase("build")
        bytes_out, files_out, in_bytes = self._output_sizes(recs)
        canaries = [r["canary"] for r in recs]
        op_time = sum(r["lat"] for r in recs)
        ops_cpu = _tick_fracs(*_summed_ticks(recs))
        per = lambda v: v / n  # noqa: E731
        metrics = {
            "session.start_s": (setup["session_s"], "s"),
            "setup.warmup_s": (setup["warmup_s"], "s"),
            "session.jvm_peak_rss_mb": (jvm_rss_mb, "MB"),
            "build.s": (per(total.get("build", 0.0)), "s/op"),
            "build.jobs": (per(bu["jobs"]), "count/op"),
            "plan.s": (per(total.get("plan", 0.0)), "s/op"),
            "exec.s": (per(total.get("exec", 0.0)), "s/op"),
        }
        units = {"jobs": "count/op", "stages": "count/op", "tasks": "count/op",
                 "failed_tasks": "count/op"}
        for k in EXEC_KEYS:
            metrics[f"exec.{k}"] = (per(ex[k]), units.get(k, "bytes/op" if "bytes" in k else "s/op"))
        metrics["exec.task_max_over_median"] = (
            ex["skew_sum"] / ex["skew_n"] if ex["skew_n"] else 0.0, "ratio")
        metrics.update({
            "io.write_s": (per(total.get("io.write", 0.0)), "s/op"),
            "io.bytes_written": (per(bytes_out), "bytes/op"),
            "io.files_written": (per(files_out), "count/op"),
            "io.bytes_written_per_input_byte": (
                bytes_out / in_bytes if in_bytes else 0.0, "ratio"),
            "plans.build_s": (per(total.get("plans.build", 0.0)), "s/op"),
            "pipeline.readiness_s": (per(total.get("pipeline.readiness", 0.0)), "s/op"),
            "pipeline.self_s": (per(self_t.get("pipeline", 0.0)), "s/op"),
            "pipeline.gated_ops": (
                float(sum(1 for r in recs if r["op"].gated)), "count"),
            "corpus.prepare_s": (per(total.get("corpus.prepare", 0.0)), "s/op"),
            "corpus.write_s": (per(self_t.get("corpus", 0.0)), "s/op"),
            "corpus.bytes_written": (per(self._corpus_bytes(recs)), "bytes/op"),
            "cleanup.s": (per(m["cleanup_s"]), "s/op"),
            "weather.canary_s": (statistics.median(canaries), "s"),
            "weather.cpu_busy_other_frac": (
                statistics.median(r["other_frac"] for r in recs), "ratio"),
            "weather.steal_frac": (ops_cpu["steal_frac"], "ratio"),
            "weather.iowait_frac": (ops_cpu["iowait_frac"], "ratio"),
            "trace.bookkeeping_frac": (tr.bookkeeping_s / op_time, "ratio"),
        })
        return metrics

    def by_op(self, recs) -> dict[str, dict[str, float]]:
        """label -> mean seconds per run of each top-level phase of the op
        (build, plan and exec for a query; exec alone otherwise)."""
        sums: dict[str, Counter] = {}
        for s in self.tracer.spans:
            if s.op is not None and s.parent is None:
                sums.setdefault(recs[s.op]["op"].label, Counter())[s.name] += s.end - s.start
        runs = Counter(r["op"].label for r in recs)
        return {label: {f"{k}_s": round(v / runs[label], 4) for k, v in phases.items()}
                for label, phases in sums.items()}

    def _output_sizes(self, recs) -> tuple[float, float, float]:
        """Bytes and data files of every published run partition, scaled to
        the ops that wrote them, and the CSV bytes those ops read."""
        recs = [r for r in recs if r["op"].kind == "pipeline"]
        if not recs:
            return 0.0, 0.0, 0.0
        root = os.path.join(self.rd.out, "weekly_summary")
        size, files = {}, {}
        for run_date in {r["op"].run_date for r in recs}:
            part = os.path.join(root, f"date={run_date}")
            names = [f for f in os.listdir(part) if f.endswith(".parquet")]
            size[run_date] = sum(os.path.getsize(os.path.join(part, f)) for f in names)
            files[run_date] = len(names)
        in_dir = self.rd.inputs
        in_bytes = 0
        for r in recs:
            stamp = r["op"].run_date.replace("-", "")
            in_bytes += sum(
                os.path.getsize(os.path.join(in_dir, f))
                for f in os.listdir(in_dir) if f.endswith(f"_{stamp}.csv")
            )
        return (sum(size[r["op"].run_date] for r in recs),
                sum(files[r["op"].run_date] for r in recs), in_bytes)

    def _corpus_bytes(self, recs) -> float:
        n = sum(1 for r in recs if r["op"].kind == "corpus")
        root = os.path.join(self.rd.out, "corpus")
        if not n or not os.path.isdir(root):
            return 0.0
        size = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
        )
        return float(size * n)

    def environment(self) -> dict:
        with open("/proc/meminfo") as fh:
            mem = next(line.split()[1] for line in fh if line.startswith("MemTotal"))
        import pyspark

        return {
            "nproc": os.cpu_count(),
            "mem_total_kb": int(mem),
            "loadavg": os.getloadavg(),
            "pyspark": pyspark.__version__,
            "java": self.spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "spark_master": self.spark.sparkContext.master,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": DRIVER_MEMORY,
        }

    def stop(self) -> float:
        """Stop the session and its JVM, wait for every child to exit, and
        return the JVM's peak resident set in MB."""
        if self.spark is None:
            return 0.0
        from pyspark import SparkContext

        _, children = _proc_tree_ticks(os.getpid())
        rss = max((_vm_hwm_mb(p) for p in children), default=0.0)
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        for pid in children:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        self.spark = None
        return rss


def _fmt(metrics: dict) -> dict:
    return {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "retail_etl_pipeline_spark", "pipeline.py")):
        print("perfbench: run from the repository root; the engine package "
              "retail_etl_pipeline_spark/ is not here", file=sys.stderr)
        return 2

    sys.path.insert(0, root)

    def _on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, _on_term)
    run_cpu0 = _cpu_ticks()
    rd = RunDir(root, args.workload)
    bench = Bench(args, rd)
    try:
        _pin_environment(root, rd, min(TASK_SLOTS, os.cpu_count() or 1))
        setup = bench.setup()
        m = bench.measure()
        env = bench.environment()
        e2e = bench.end_to_end(setup, m)
        rss = bench.stop()
        recs = m["records"]
        errors = bench.warmup_errors + [
            f"op {i} {r['op'].label}: {r['err']}" for i, r in enumerate(recs) if r["err"]
        ]
        canary_med = statistics.median(r["canary"] for r in recs)
        ops = []
        for r in recs:
            fr = _tick_fracs(*r["cpu"])
            ops.append({
                "op": r["op"].label, "s": round(r["lat"], 4),
                "canary_s": round(r["canary"], 4),
                "cpu_busy_other_frac": round(r["other_frac"], 3),
                "steal_frac": round(fr["steal_frac"], 3),
                "iowait_frac": round(fr["iowait_frac"], 3),
                "weather_flag": (r["canary"] > 2 * canary_med or r["other_frac"] > 0.1
                                 or fr["steal_frac"] > 0.05 or fr["iowait_frac"] > 0.05),
            })
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "sf": args.sf or SCALE[args.workload], "environment": env,
            "setup": setup, "warmup_ops": bench.warmup_ops, "errors": errors[:20],
            "run_cpu": _tick_fracs(run_cpu0, _cpu_ticks()),
            "ops_cpu": _tick_fracs(*_summed_ticks(recs)),
            "ops": ops,
        }
        if args.trace:
            detail["by_op"] = bench.by_op(recs)
        metrics = bench.per_layer(setup, m, rss) if args.trace else e2e
        print(json.dumps({"detail": detail}))
        print(json.dumps({
            "correct": not errors,
            "attempted": len(recs),
            "failed": sum(1 for r in recs if r["err"]),
            "metrics": _fmt(metrics),
        }), flush=True)
        return 0
    finally:
        try:
            bench.stop()
        finally:
            rd.remove()


if __name__ == "__main__":
    sys.exit(main())
