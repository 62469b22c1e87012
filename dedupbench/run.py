"""Dedup benchmark: one workload per invocation, one JSON result line.

    python3 dedupbench/run.py --workload web_crawl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout: the engine is imported from the
``humid_spark`` package beside this directory, and every file the run
writes (inputs, Spark scratch, outputs, the index) lives under
``.bench_work/`` there and is removed at exit.  Traced runs also leave
their spans in ``.bench_traces/``.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (see BENCHMARK.json and ``metrics.json``).  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the environment.  The exit code is 1 when a correctness check
fails, 2 when the engine cannot be found.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time

import workloads
from spans import Tracer
from workloads import log

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# a per-layer metric is <span>.<field> with one of these fields, or a
# layer counter
SPAN_FIELDS = ("self_s", "task_s", "cpu_s", "shuffle_write_mb", "idle_share")


def bench_spec() -> dict:
    """BENCHMARK.json: the workloads and the metrics with their units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# processes and memory
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def rss_mb(pids) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total / 2**20


class PeakRss:
    """Samples the summed RSS of this process's descendants (the JVM and
    the Python workers it forks) every 0.5 s."""

    def __init__(self):
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.wait(0.5):
            self.peak = max(self.peak, rss_mb(descendants(me)))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def stop_spark(spark) -> None:
    """Stop the session, close the JVM gateway and wait for the JVM and
    its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that hangs on exit is killed
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, 9)
        except OSError:
            pass


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------

def kernel_pages_per_s() -> float:
    """Single-process signature throughput on fixed texts: the host canary."""
    import random

    import generate
    from humid_spark.functions.signatures import kperm_signatures_batch

    rng = random.Random(0)
    texts = [generate.doc(rng, rng.randint(200, 2000)) for _ in range(200)]
    t0 = time.perf_counter()
    kperm_signatures_batch(texts, 5, 128)
    return len(texts) / (time.perf_counter() - t0)


def cpu_times() -> tuple[int, int]:
    """(all, steal) jiffies of this machine's CPUs so far; steal is time
    the hypervisor gave another guest."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def uptime_s() -> float:
    with open("/proc/uptime") as f:
        return float(f.read().split()[0])


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 0


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the work directory, and the
    driver heap below physical memory."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # session.py defaults the driver heap to 24g; cap it at a quarter of RAM
    cap = max(1, mem_total_bytes() // 4 // 2**30)
    want = os.environ.get("SPARK_DRIVER_MEM", "")
    if not (want.endswith("g") and want[:-1].isdigit() and int(want[:-1]) <= cap):
        os.environ["SPARK_DRIVER_MEM"] = f"{min(cap, 4)}g"


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every job and stage of the run in the status store
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
        conf["spark.sql.ui.retainedExecutions"] = "100000"
    return conf


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def per_layer(names, tracer, counters: dict, cores: int) -> dict[str, float]:
    spans = tracer.by_name()
    out: dict[str, float] = {}
    for name in names:
        span, _, fld = name.rpartition(".")
        got = spans.get(span, [])
        if fld not in SPAN_FIELDS:
            out[name] = float(counters.get(name, 0.0))
        elif fld == "self_s":
            out[name] = sum(s.self_s for s in got)
        elif fld == "idle_share":
            wall = sum(s.wall_s for s in got)
            task = sum(s.task_s for s in got)
            out[name] = 1.0 - task / (wall * cores) if wall > 0 else 0.0
        else:
            out[name] = sum(getattr(s, fld) for s in got)
    return out


def run(args, units: dict[str, str]) -> tuple[dict, dict, list]:
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        prepare_env(work)
        cores = len(os.sched_getaffinity(0))
        env = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
            "nproc": cores,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "SPARK_DRIVER_MEM": os.environ["SPARK_DRIVER_MEM"],
            "python": platform.python_version(),
            "uptime_s": uptime_s(),
            "loadavg": os.getloadavg(),
            "kernel_pages_per_s_before": kernel_pages_per_s(),
        }
        cpu0 = cpu_times()
        tracer = Tracer(enabled=bool(args.trace), cores=cores)
        ctx = workloads.Ctx(tracer=tracer, work=work, seed=args.seed,
                            seconds=args.seconds,
                            sizes=workloads.SCALES[args.scale])
        # inputs are written before set-up is timed
        if args.workload == "web_crawl":
            workloads.crawl_prepare(ctx)
        else:
            index = workloads.IndexRun(ctx)
        t0 = time.perf_counter()
        from humid_spark.session import get_spark

        spark = get_spark("dedupbench", cores=cores,
                          extra_conf=spark_conf(work, bool(args.trace)))
        t_session = time.perf_counter()
        log("session up")
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = tracer.spark = spark
        tracer.record("session.get_spark", t0, t_session)
        import pyspark

        env["pyspark"] = pyspark.__version__
        env["java"] = spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version")
        if args.workload == "web_crawl":
            workloads.crawl_setup(ctx)
            setup_s = time.perf_counter() - t0
            log("set up")
            with PeakRss() as rss:
                metrics = workloads.crawl_run(ctx, bool(args.trace))
        else:
            index.build()
            index.warm_up()
            setup_s = time.perf_counter() - t0
            log("set up")
            with PeakRss() as rss:
                metrics = workloads.index_run(ctx, index, bool(args.trace))
        log("workload done")
        env["kernel_pages_per_s_after"] = kernel_pages_per_s()
        total, steal = (b - a for a, b in zip(cpu0, cpu_times()))
        env["cpu_steal_share"] = steal / max(total, 1)
        metrics.update(setup_s=setup_s, peak_rss_mb=rss.peak,
                       ok_share=1.0 - ctx.failed / max(ctx.attempted, 1))
        ctx.counters["signatures.kernel_pages_per_s"] = statistics.mean(
            (env["kernel_pages_per_s_before"], env["kernel_pages_per_s_after"]))
        tracer.resolve()
        if args.trace:
            ctx.counters["cc.jobs"] = sum(
                s.jobs for s in tracer.spans if s.name == "cc.components")
            ctx.counters["spark.spill_mb"] = sum(s.spill_mb for s in tracer.spans)
            metrics = per_layer(units, tracer, ctx.counters, cores)
        result = {
            "correct": not ctx.problems and ctx.attempted > ctx.failed,
            "attempted": max(ctx.attempted, 1),
            "failed": ctx.failed,
            "metrics": metrics,
        }
        env["problems"] = ctx.problems
        return env, result, tracer.dump()
    finally:
        if spark is not None:
            stop_spark(spark)
            log("session stopped")
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    spec = bench_spec()
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "toy"), default="full",
                   help="input sizes; toy is for the self-tests")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "humid_spark", "__init__.py")):
        print(f"dedupbench: no humid_spark package in {ROOT}; run from a "
              "checkout of the engine", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    env, result, spans = run(args, units)
    result["metrics"] = {
        k: {"value": float(result["metrics"][k]), "unit": u}
        for k, u in units.items()
    }
    if args.trace:
        out = os.path.join(ROOT, ".bench_traces")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"env": env, "spans": spans}, f, indent=1)
        for s in spans:
            print(f"{s['name']:<28} self {s['self_s']:8.3f}s  task "
                  f"{s['task_s']:8.3f}s  idle {s['idle_share']:5.2f}",
                  file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps(result), flush=True)
    log("done")
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
