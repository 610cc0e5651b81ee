"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_incremental --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
into ``perfbench/.work/cache`` (kept between runs, keyed by seed); Spark's
scratch space, event logs and traces also stay under ``perfbench/.work``.
The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` where ``metrics`` holds
every ``end_to_end`` metric of BENCHMARK.json (``--trace 0``) or every
``per_layer`` metric (``--trace 1``). Workloads, metrics and their
meaning are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import resource
import shutil
import signal
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import ExitStack
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
CORES = 4
WARMUP_ROWS = 60_000_000
WARMUP_RUNS = 2
PREPARE_RUNS = 3


class Context:
    """Per-run state shared with the workloads: seed, measuring window,
    directories, the Spark session and the processes behind it."""

    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.root = ROOT
        self.cache = os.path.join(WORK, "cache")
        self.tmp = os.path.join(WORK, f"run-{os.getpid()}")
        self.eventlog_dir = os.path.join(self.tmp, "eventlog")
        self.gc_log = os.path.join(self.tmp, "gc.log")
        self.traces = os.path.join(WORK, "traces")
        self.spark = None
        self.jvm_pid = None
        self.gateway_proc = None
        self.timings: dict[str, float] = {}

    def setup_env(self) -> None:
        """Keep every file Spark, the JVM and Python workers write inside
        the checkout, and let Python workers import the program from any
        working directory."""
        os.makedirs(self.cache, exist_ok=True)
        os.makedirs(self.eventlog_dir, exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "local")
        os.environ["PERFBENCH_RUN"] = self.tmp
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        os.environ.pop("SPARK_MASTER", None)

    def start_session(self) -> None:
        from shopify_etl_spark.session import get_spark

        # the driver heap is the session factory's own default
        conf = {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -Xlog:gc:file={self.gc_log}",
            "spark.local.dir": os.path.join(self.tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        }
        if self.traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.eventlog_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", master=f"local[{CORES}]",
                               shuffle_partitions=CORES, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.gateway_proc = getattr(self.spark.sparkContext._gateway, "proc", None)

    def warm_up(self, python_pools: bool) -> None:
        """Engine warm-up: the JVM's first Spark jobs (a CPU-bound aggregate
        on every core, which uses no program code) and, with
        ``python_pools``, the Arrow Python worker pool at full width (a cold
        pool forks a worker per task on first use; no workload query uses
        the separate RDD worker pool)."""
        spark = self.spark
        for _ in range(WARMUP_RUNS):
            spark.range(0, WARMUP_ROWS, numPartitions=CORES).selectExpr(
                "bit_xor(xxhash64(id, id * 31))").collect()
        if not python_pools:
            return

        def touch_pandas(it):
            import pandas  # noqa: F401

            yield from it

        spark.range(CORES * 10, numPartitions=CORES).mapInPandas(
            touch_pandas, "id long").write.format("noop").mode("overwrite").save()

    def release_persisted(self) -> None:
        """Drop persisted RDDs and cached plans between catalog queries."""
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)
        self.spark.catalog.clearCache()

    def peak_rss_mb(self) -> float:
        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def peak_heap_mb(self) -> float:
        """The largest heap the JVM still held after a collection: the
        program's peak live data, read from the GC log."""
        peak = 0.0
        with open(self.gc_log) as f:
            for line in f:
                m = _GC_AFTER.search(line)
                if m:
                    peak = max(peak, float(m.group(1)) * _GC_UNIT[m.group(2)])
        return peak

    def cpu_seconds(self) -> float:
        """CPU seconds used so far by this process, the JVM and the Python
        workers of this run (children they reaped included)."""
        usage = resource.getrusage(resource.RUSAGE_SELF)
        total = usage.ru_utime + usage.ru_stime
        tick = os.sysconf("SC_CLK_TCK")
        for pid in _marked_processes(self.tmp):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += sum(int(v) for v in fields[11:15]) / tick
        return total

    def event_log(self) -> str:
        """Path of this run's event log (complete only after ``stop``)."""
        names = [n for n in os.listdir(self.eventlog_dir) if not n.startswith(".")]
        return os.path.join(self.eventlog_dir, sorted(names)[-1]) if names else ""

    def stop(self) -> None:
        """Stop Spark, then wait for the JVM and every Python worker it
        started (they all carry PERFBENCH_RUN in their environment)."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        proc = self.gateway_proc
        if proc is not None and proc.poll() is None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate below
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.time() + 20
        while True:
            left = _marked_processes(self.tmp)
            if not left:
                break
            if time.time() > deadline:
                for pid in left:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.time() + 10
            time.sleep(0.2)

    def cleanup(self) -> None:
        shutil.rmtree(self.tmp, ignore_errors=True)


# "GC(7) Pause Young (Normal) (G1 Evacuation Pause) 612M->188M(1024M) 9.1ms"
_GC_AFTER = re.compile(r"\d+[KMG]->(\d+)([KMG])\(\d+[KMG]\)")
_GC_UNIT = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def _marked_processes(marker: str) -> list[int]:
    """PIDs (other than this one) whose environment carries our run marker."""
    needle = f"PERFBENCH_RUN={marker}".encode()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    out.append(int(name))
        except OSError:
            continue
    return out


@dataclass
class Measurement:
    """What a workload's timed loop saw: per-iteration wall and CPU seconds
    and windows, operations attempted and failed, and report lines."""

    iters: list = field(default_factory=list)
    cpu: list = field(default_factory=list)
    windows: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    notes: list = field(default_factory=list)

    def add(self, wall_s: float, cpu_s: float, window: tuple[float, float]) -> None:
        self.iters.append(wall_s)
        self.cpu.append(cpu_s)
        self.windows.append(window)

    def count(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed

    @property
    def iteration_s(self) -> float:
        return statistics.median(self.iters)

    @property
    def iteration_cpu_s(self) -> float:
        return statistics.median(self.cpu)



def timed_setup(ctx: Context, workload):
    """Start the session, make the inputs and put them in place. Returns
    (the workload's state, set-up seconds): the program's session start
    plus the median of ``PREPARE_RUNS`` ``prepare()`` calls. The inputs are
    generated while the engine warms up; neither is the program's work, so
    neither is timed."""
    t0 = time.perf_counter()
    ctx.start_session()
    t_session = time.perf_counter() - t0
    ctx.timings["session.start_s"] = t_session
    t0 = time.perf_counter()
    with ThreadPoolExecutor(1) as pool:
        made = pool.submit(workload.inputs, ctx)
        ctx.warm_up(workload.PYTHON_POOLS)
        st = made.result()
    ctx.timings["warmup_s"] = time.perf_counter() - t0
    preps = []
    for _ in range(PREPARE_RUNS):
        t0 = time.perf_counter()
        workload.prepare(ctx, st)
        preps.append(time.perf_counter() - t0)
    ctx.timings["prepare_s"] = statistics.median(preps)
    return st, t_session + ctx.timings["prepare_s"]


def execute(ctx: Context, name: str, workload) -> dict:
    """Set up, time the workload and check its outputs. A traced run also
    records spans and the event log, and then probes the layers."""
    from tracing import (HostWitness, Tracer, callsite_hooks, dump_modules, jobs_between,
                       read_event_log, spark_metrics)

    st, setup_s = timed_setup(ctx, workload)
    tracer = None
    with ExitStack() as hooks:
        if ctx.traced:
            tracer = Tracer(run=f"{name}-{ctx.seed}-{os.getpid()}", sc=ctx.spark.sparkContext)
            hooks.enter_context(callsite_hooks(ctx.spark.sparkContext))
            workload.install_spans(hooks, tracer)
        witness = HostWitness()
        m = workload.measure(ctx, st, tracer)
        host = witness.read()
        peak = ctx.peak_rss_mb()
        heap = ctx.peak_heap_mb()
        if ctx.traced:
            probes = workload.probe(ctx, st, tracer, m)
    metrics = {
        "setup_s": setup_s,
        "iteration_cpu_s": m.iteration_cpu_s,
        "success_rate": 1.0 - m.failed / m.attempted,
    }
    if ctx.traced:
        ctx.stop()  # completes the event log
        jobs = read_event_log(ctx.event_log(), ROOT)
        window = m.windows[-1]
        engine = spark_metrics(jobs_between(jobs, *window), jobs, window[1] - window[0], CORES)
        # one more check: no Spark task failed
        m.count(1, 1 if engine["spark.failed_tasks"] else 0)
        if engine["spark.failed_tasks"]:
            m.problems.append(f"{engine['spark.failed_tasks']} failed Spark task(s)")
        metrics = {
            **workload.layers(st, m, tracer, jobs),
            **probes,
            **engine,
            "session.start_s": ctx.timings["session.start_s"],
            "error_rate": m.failed / m.attempted,
            "traced.setup_s": setup_s,
            "traced.iteration_s": m.iteration_s,
            "traced.iteration_cpu_s": m.iteration_cpu_s,
            "peak_rss_mb": peak,
            "peak_heap_mb": heap,
            **{f"host.{k}": v for k, v in host.items()},
        }
        tag = os.path.join(ctx.traces, f"{name}-{ctx.seed}")
        tracer.dump(f"{tag}.json")
        dump_modules(f"{tag}-modules.json", jobs_between(jobs, *window), jobs)
    notes = m.notes + [
        f"session_s={ctx.timings['session.start_s']:.2f} prepare_s={ctx.timings['prepare_s']:.3f}"
        f" warmup_and_inputs_s={ctx.timings['warmup_s']:.2f} (not in setup_s)",
        f"peak_rss_mb={peak:.1f} peak_heap_mb={heap:.1f}",
        f"host load1={host['load1']:.2f} busy={host['busy_pct']:.1f}%"
        f" steal={host['steal_pct']:.1f}%",
    ] + [f"FAILED: {p}" for p in m.problems]
    return {"correct": m.failed == 0, "attempted": m.attempted, "failed": m.failed,
            "metrics": metrics, "notes": notes}


def owns(layers, name: str) -> bool:
    """Whether metric ``name`` is one of ``layers``: exact names, or
    prefixes ending in a dot."""
    return any(name == p or (p.endswith(".") and name.startswith(p)) for p in layers)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def emit(spec: dict, result: dict, traced: bool, not_run=()) -> None:
    """Print the result line. A traced run reports 0 for the layers named in
    ``not_run`` (those of the other workload); any other metric it lacks,
    and any it has that BENCHMARK.json does not list, is an error."""
    values = result["metrics"]
    wanted = spec["per_layer"] if traced else spec["end_to_end"]
    names = {m["name"] for m in wanted}
    unknown = sorted(set(values) - names)
    missing = sorted(n for n in names - set(values) if not (traced and owns(not_run, n)))
    if unknown or missing:
        raise RuntimeError(f"metrics not in BENCHMARK.json: {unknown}; missing: {missing}")
    metrics = {}
    for m in wanted:
        value = values[m["name"]] if m["name"] in values else 0.0
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }), flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: load the base warehouse and exit (see below)
    ap.add_argument("--build-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    try:
        spec = load_spec()
    except OSError as e:
        print(f"perfbench: cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import shopify_etl_spark
    except ImportError as e:
        print(f"perfbench: program not found under {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(shopify_etl_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: shopify_etl_spark is not the checkout's own ({shopify_etl_spark.__file__})",
              file=sys.stderr)
        return 2
    ctx = Context(args)
    ctx.setup_env()

    sys.path.insert(0, BENCH_DIR)
    import bi
    import daily

    if args.build_only:
        try:
            daily.build(ctx)
        finally:
            ctx.stop()
            ctx.cleanup()
        return 0
    # Whichever run comes first in a checkout loads the base warehouse, in
    # a process of its own so that no timed run shares a JVM with it.
    if not daily.built(ctx):
        import subprocess

        subprocess.run([sys.executable, os.path.abspath(__file__), "--workload",
                        "daily_incremental", "--seed", str(args.seed), "--seconds", "0",
                        "--build-only"], check=True)
    workload, other = (daily, bi) if args.workload == "daily_incremental" else (bi, daily)
    try:
        result = execute(ctx, args.workload, workload)
    finally:
        ctx.stop()
        ctx.cleanup()
    for line in result.get("notes", []):
        print(line)
    emit(spec, result, ctx.traced, other.LAYERS)
    return 0


if __name__ == "__main__":
    sys.exit(main())
