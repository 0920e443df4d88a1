"""Benchmark runner: set-up, warm-up with result checks, timed passes.

One process, one SparkSession on ``local[$SPARK_GRAFT_CPUS]``. The seed
only orders the queries: each pass runs the workload's queries in a
fresh seeded permutation, so no query always follows the same one. The
data is the generated warehouse of ``datagen`` (fixed content).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import datagen
import fingerprint as fp
import layers
from workloads import SF, WORKLOADS

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
GOLDEN = BENCH / "golden.json"
CACHE = BENCH / ".cache"
RUNS = BENCH / ".runs"

# Whole-run metrics. The untraced run reports the END_TO_END ones. On a
# shared 4-vCPU VM the wall time of a pass swings by up to 2.8x with the
# CPU time other tenants steal (0-34% of the box's time), and set-up wall
# time by up to 1.9x, while the CPU time of a pass moves by up to 1.4x. So
# the bounded time metrics, setup_s and pass_cpu_s, are CPU seconds of the
# benchmark's process tree (Python driver, JVM, Python workers). CPU
# seconds do not see a change that only loses parallelism or adds waiting
# (a single-task stage, a lock, a fetch stall): check pass_s for those.
# The wall-clock pass metrics are reported by the traced run, from the
# untraced passes it alternates with its traced ones (no spans are
# recorded in those); set-up wall time is in the run details.
RUN_UNITS = {
    "setup_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB",
    "pass_s": "s", "pass_s_tail": "s", "input_rows_per_s": "rows/s",
    "fail_ratio": "ratio", "box.steal_pct": "%",
}
END_TO_END = ("setup_s", "pass_cpu_s", "peak_rss_mb")

# Driver heap, touched at JVM start and subtracted from peak_rss_mb.
HEAP_MB = 2048

WRAPPER_METRICS = tuple(
    (name, ("calls", "s", "self_s") + (("jobs",) if name in layers.JOB_COUNTED else ()))
    for name in layers.TRACED_FUNCTIONS)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, reaped children included) of a process
    and all its descendants, from /proc."""
    ticks = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                ticks += sum(map(int, fh.read().rsplit(")", 1)[1].split()[11:15]))
        except (FileNotFoundError, ProcessLookupError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def box_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole box so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:9]]
    return v[7], sum(v)


def alive(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def dir_bytes(path: Path) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:
                pass
    return total


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than 11."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.workload = workload
        self.queries = WORKLOADS[workload]["queries"]
        self.rng = random.Random(seed)
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.tracer = layers.Tracer() if trace else None
        self.run_dir = RUNS / f"{workload}-s{seed}-p{os.getpid()}"
        self.tmp = self.run_dir / "tmp"
        self.spark = None
        self.jvm_pid = None
        # per traced pass: job groups by phase, and summed plan-shape counts
        self.groups: dict[int, dict[str, list[str]]] = {}
        self.shapes: dict[int, dict[str, int]] = {}

    # -- environment ----------------------------------------------------
    def prepare(self, load_golden: bool = True) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        (self.tmp / "local").mkdir(parents=True)
        os.environ["TMPDIR"] = str(self.tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.tmp / "local")
        os.environ["SPARK_DRIVER_MEMORY"] = f"{HEAP_MB}m"
        # Python workers import the engine package by module path.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p)
        import tempfile

        tempfile.tempdir = None
        if str(REPO) not in sys.path:
            sys.path.insert(0, str(REPO))
        # Input generation (and the clone build) is not part of setup_s.
        t0, cpu0 = time.perf_counter(), tree_cpu_s(os.getpid())
        self.sf_dir = datagen.ensure_dataset(CACHE, SF)
        clone = WORKLOADS[self.workload].get("clone")
        if clone:
            self.sf_dir = datagen.ensure_clone(CACHE, self.sf_dir, clone, self.tmp)
        self.datagen_s = time.perf_counter() - t0
        self.datagen_cpu_s = tree_cpu_s(os.getpid()) - cpu0
        self.dataset = self.sf_dir.relative_to(CACHE).as_posix()
        self.inventory = datagen.inventory(self.sf_dir)
        if load_golden:
            datasets = json.loads(GOLDEN.read_text())["datasets"]
            if self.dataset not in datasets:
                raise SystemExit(f"golden.json has no fingerprints for {self.dataset}")
            self.golden = datasets[self.dataset]
        if self.trace:
            layers.install(self.tracer)

    def start_spark(self):
        from rws_data_ingester_spark.session import get_spark
        from pyspark import SparkContext

        # The driver heap is fixed at HEAP_MB, committed and touched at
        # start, and left out of peak_rss_mb. With the engine's 8g maximum
        # the collector sized the heap differently in every run: VmHWM
        # varied by 23% (IQR over median, ten seeds) between runs of the
        # same code, and by 86% (five seeds) with only the first 2 GB
        # touched. So
        # peak_rss_mb is the memory outside the heap (JVM off-heap, code
        # and threads, and the Python driver); heap use is the per-layer
        # jvm.heap_peak_mb, and a pass that needs more heap fails.
        self.spark = get_spark(app_name="perfbench", extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -Xms{HEAP_MB}m -XX:+AlwaysPreTouch "
                "-XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
        self.jvm_pid = SparkContext._gateway.proc.pid
        from rws_data_ingester_spark.plans import REGISTRY

        self.registry = REGISTRY
        return self.spark

    def stop_spark(self) -> None:
        """Stop Spark, its JVM and the JVM's Python workers, and wait for
        every one of them to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        procs = descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        for pid in procs:
            while alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)

    # -- one query ------------------------------------------------------
    def order(self) -> list[str]:
        qs = list(self.queries)
        self.rng.shuffle(qs)
        return qs

    def check(self, q: str, df) -> None:
        got = fp.spark_fingerprint(df)
        want = self.golden[q]
        if any(got[k] != want[k] for k in ("rows", "hash", "columns")):
            self.failed += 1
            self.mismatches.append(q)
            log(f"fingerprint mismatch {q}: got {got}, want {want}")

    def run_query(self, q: str, pass_no: int, traced: bool, check: bool = False) -> None:
        self.attempted += 1
        fn = self.registry[q].fn
        try:
            if not traced:
                df = fn(self.spark, str(self.sf_dir))
                if check:
                    self.check(q, df)
                else:
                    df.write.format("noop").mode("overwrite").save()
                return
            self.traced_query(q, fn, pass_no, check)
        except Exception:
            self.failed += 1
            log(f"{q} raised:\n{traceback.format_exc()}")

    def traced_query(self, q, fn, pass_no, check) -> None:
        sc, tr = self.spark.sparkContext, self.tracer
        tr.qid = f"{pass_no}:{q}"
        groups = self.groups.setdefault(pass_no, {})
        try:
            with tr.span("query"):
                for phase in (layers.CONSTRUCT, layers.PLAN, layers.EXEC):
                    group = f"pb{pass_no}.{q}.{phase}"
                    groups.setdefault(phase, []).append(group)
                    sc.setJobGroup(group, group)
                    tr.phase = phase
                    with tr.span(phase):
                        if phase == layers.CONSTRUCT:
                            df = fn(self.spark, str(self.sf_dir))
                        elif phase == layers.PLAN:
                            plan = df._jdf.queryExecution().executedPlan()
                        elif check:
                            self.check(q, df)
                        else:
                            df.write.format("noop").mode("overwrite").save()
                    if phase == layers.PLAN:
                        shape = layers.plan_shape(plan.toString())
                        acc = self.shapes.setdefault(pass_no, {})
                        for k, v in shape.items():
                            acc[k] = acc.get(k, 0) + v
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            tr.qid = tr.phase = None

    # -- passes ---------------------------------------------------------
    def run_pass(self, pass_no: int, traced: bool, check: bool = False) -> tuple[float, dict]:
        # The warm-up pass runs in list order, so the JIT profile every
        # run starts its timed passes from does not depend on the seed.
        order = self.order() if pass_no >= 0 else list(self.queries)
        # The wrappers record spans only in traced passes; in untraced
        # ones they cost one flag check per call.
        if self.tracer is not None:
            self.tracer.enabled = traced
        per_query = {}
        t0 = time.perf_counter()
        for q in order:
            tq = time.perf_counter()
            self.run_query(q, pass_no, traced, check)
            per_query[q] = time.perf_counter() - tq
        return time.perf_counter() - t0, per_query

    def main(self) -> tuple[dict, dict]:
        self.prepare()
        spark = self.start_spark()
        if self.trace:
            self.tracer.next_job_id = layers.job_counter(spark)
            self.listener = layers.make_stream_listener(self.tracer)
            spark.streams.addListener(self.listener)
            self.jvm = layers.JvmStats(spark)
        # Warm-up: every query once, results collected and fingerprinted.
        # A traced run traces its warm-up, so its fingerprints are checked
        # with the wrappers in place.
        _, warmup = self.run_pass(-1, traced=self.trace, check=True)
        setup_wall_s = process_age() - self.datagen_s
        setup_s = tree_cpu_s(os.getpid()) - self.datagen_cpu_s
        log(f"setup {setup_wall_s:.2f}s ({setup_s:.2f} CPU s), checking {len(self.queries)} queries: "
            f"{len(self.mismatches)} mismatches")
        passes, passes_cpu, steal, per_query, layer_rows = [], [], [], {}, []
        t_start = time.perf_counter()
        pass_no = 0
        while True:
            # Traced runs alternate untraced and traced passes and end on
            # an untraced one, so every traced pass sits between two
            # untraced ones and warm-up drift does not bias
            # trace.overhead_pct.
            traced = self.trace and pass_no % 2 == 1
            if traced:
                layer_rows.append(self.traced_pass(pass_no))
            else:
                cpu0, box0 = tree_cpu_s(os.getpid()), box_ticks()
                dt, pq = self.run_pass(pass_no, traced=False)
                box1 = box_ticks()
                passes.append(dt)
                passes_cpu.append(tree_cpu_s(os.getpid()) - cpu0)
                steal.append((box1[0] - box0[0]) / max(box1[1] - box0[1], 1))
                for q, s in pq.items():
                    per_query.setdefault(q, []).append(s)
            pass_no += 1
            done = time.perf_counter() - t_start >= self.seconds
            if done and (not self.trace or pass_no > 1 and pass_no % 2 == 1):
                break
        peak_rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(self.jvm_pid) - HEAP_MB
        cpu_probe = self.cpu_probe() if self.trace else None
        rows_per_pass = sum(self.inventory[t]["rows"]
                            for q in self.queries for t in self.golden[q]["tables"])
        pass_s = median(passes)
        tail_s, tail_pct = tail(passes)
        run = {
            "setup_s": setup_s, "pass_cpu_s": median(passes_cpu), "peak_rss_mb": peak_rss,
            "pass_s": pass_s, "pass_s_tail": tail_s, "input_rows_per_s": rows_per_pass / pass_s,
            "fail_ratio": self.failed / max(self.attempted, 1),
            "box.steal_pct": 100.0 * median(steal),
        }
        details = {
            "workload": self.workload, "seed": self.seed, "trace": int(self.trace),
            "datagen_s": self.datagen_s, "setup_wall_s": setup_wall_s, **run,
            "passes_s": passes, "passes_cpu_s": passes_cpu, "passes_steal": steal,
            "pass_s_tail_percentile": tail_pct,
            "pass_samples": len(passes), "input_rows_per_pass": rows_per_pass,
            "mismatches": self.mismatches,
            "query_median_s": {q: median(v) for q, v in sorted(per_query.items())},
            "query_warmup_s": dict(sorted(warmup.items())),
            "tables": {"dir": self.dataset, **self.inventory},
        }
        if self.trace:
            metrics = self.layer_metrics(layer_rows, pass_s, cpu_probe)
            metrics.update({k: {"value": v, "unit": RUN_UNITS[k]}
                            for k, v in run.items() if k not in END_TO_END})
            details["phase_sum_s"] = sum(metrics[k]["value"] for k in (
                "plans.construct_s", "catalyst.plan_s", "exec.run_s"))
            RUNS.mkdir(parents=True, exist_ok=True)
            self.tracer.dump(RUNS / f"spans-{self.workload}-s{self.seed}.json")
        else:
            metrics = {k: {"value": run[k], "unit": RUN_UNITS[k]} for k in END_TO_END}
        return details, metrics

    def traced_pass(self, pass_no: int) -> dict:
        spark = self.spark
        self.listener.wait_terminated()
        self.listener.take()  # drop the streams of earlier, untraced passes
        self.jvm.reset_peak()
        gc0 = self.jvm.gc_s()
        bytes0 = dir_bytes(self.tmp)
        n_spans = len(self.tracer.spans)
        dt, _ = self.run_pass(pass_no, traced=True)
        gc_s = self.jvm.gc_s() - gc0
        heap = self.jvm.heap_peak_mb()
        self.listener.wait_terminated()
        started, progress = self.listener.take()
        bytes_written = dir_bytes(self.tmp) - bytes0
        layers.drain_listener_bus(spark)
        # Micro-batch jobs run under their stream's run id as job group;
        # charge them to the phase that started the stream.
        groups = self.groups[pass_no]
        for run_id, (_, phase) in started.items():
            groups.setdefault(phase, []).append(run_id)
        cj = layers.group_jobs(spark, groups[layers.CONSTRUCT])
        ej = layers.group_jobs(spark, groups[layers.PLAN] + groups[layers.EXEC])
        spans = [dict(s, parent=None if s["parent"] is None else s["parent"] - n_spans)
                 for s in self.tracer.spans[n_spans:]]
        summ = layers.summarize(spans)
        row = {
            "trace.pass_s": dt,
            "plans.construct_s": summ.get(layers.CONSTRUCT, {}).get("s", 0.0),
            "plans.construct_jobs": cj["jobs"],
            "plans.construct_tasks": cj["tasks"],
            "catalyst.plan_s": summ.get(layers.PLAN, {}).get("s", 0.0),
            "exec.run_s": summ.get(layers.EXEC, {}).get("s", 0.0),
            **{f"exec.{k}": v for k, v in ej.items()},
            **self.shapes.get(pass_no, {}),
            "jvm.gc_s": gc_s, "jvm.heap_peak_mb": heap,
        }
        for name, fields in WRAPPER_METRICS:
            s = summ.get(name, {})
            for f in fields:
                row[f"{name}.{f}"] = s.get(f, 0)
        row["catalog.handle_hit_ratio"] = self.handle_hits(spans)
        events = self.inventory["events"]
        row.update(layers.stream_metrics(progress, events["bytes"] / events["rows"],
                                         bytes_written))
        return row

    @staticmethod
    def handle_hits(spans) -> float:
        loads = [s["hit"] for s in spans if s["name"] == layers.HANDLE_SPAN]
        return sum(loads) / len(loads) if loads else 0.0

    def layer_metrics(self, rows: list[dict], untraced_pass_s: float, cpu_probe: float) -> dict:
        out = {k: median([r[k] for r in rows]) for k in rows[0]}
        out["box.cpu_hash16_s"] = cpu_probe
        out["trace.overhead_pct"] = 100.0 * (out["trace.pass_s"] - untraced_pass_s) / untraced_pass_s
        return {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(out.items())}

    def cpu_probe(self) -> float:
        import bench

        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            bench.run_cpu_control(self.spark)
            runs.append(time.perf_counter() - t0)
        return median(runs)


def unit_of(name: str) -> str:
    for suffix, unit in (("_per_s", "rows/s"), ("_per_input_byte", "ratio"),
                         ("_ratio", "ratio"), ("_pct", "%"), ("_mb", "MB"),
                         ("_bytes", "bytes"), ("_ms", "ms"), ("_ms_p50", "ms"),
                         ("_s", "s"), (".s", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


def sql_tables(spark, first: int) -> set[str]:
    """Fixture tables named in the physical plans of the SQL executions
    numbered ``first`` onwards (the queries' eager jobs included)."""
    import re

    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList(first, store.executionsCount() - first)
    names = set()
    for i in range(execs.size()):
        names.update(re.findall(r"/(\w+)\.parquet", execs.apply(i).physicalPlanDescription()))
    return names & set(datagen.TABLES)


def make_golden() -> dict:
    """Fingerprint every workload query on the data it reads (the generated
    warehouse, or its clone for a clone workload). Queries with a DuckDB
    oracle must agree with it; the rest are pinned to this code's output.
    Also records which fixture tables each query scans."""
    bench = Bench("curation", 0, 0, False)
    bench.prepare(load_golden=False)
    targets: dict[Path, dict[str, None]] = {}
    for w in WORKLOADS.values():
        d = bench.sf_dir
        if w.get("clone"):
            d = datagen.ensure_clone(CACHE, d, w["clone"], bench.tmp)
        targets.setdefault(d, {}).update(dict.fromkeys(w["queries"]))
    spark = bench.start_spark()
    store = spark._jsparkSession.sharedState().statusStore()
    datasets = {}
    try:
        for sf_dir, queries in targets.items():
            con = fp.duckdb_connection(sf_dir, datagen.TABLES)
            name = sf_dir.relative_to(CACHE).as_posix()
            out = datasets[name] = {}
            for q in queries:
                layers.drain_listener_bus(spark)
                first = store.executionsCount()
                got = fp.spark_fingerprint(bench.registry[q].fn(spark, str(sf_dir)))
                layers.drain_listener_bus(spark)
                got["tables"] = sorted(sql_tables(spark, first))
                oracle = bench.registry[q].oracle
                got["check"] = "pinned"
                if oracle is not None:
                    want = fp.duckdb_fingerprint(con, oracle)
                    if any(got[k] != want[k] for k in ("rows", "hash", "columns")):
                        raise SystemExit(f"{name} {q}: spark {got} != duckdb {want}")
                    got["check"] = "duckdb"
                log(f"{name} {q}: {got}")
                out[q] = got
    finally:
        bench.stop_spark()
        bench.cleanup()
    return {"datasets": datasets}
