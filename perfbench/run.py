"""Transit-ETL benchmark: one workload per process, a closed loop with one
client (one op at a time) on a local Spark session sized from the host.

    python3 perfbench/run.py --workload gtfs_chain --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench_work/`` (removed at exit). The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
op loop runs traced and the metrics are the per-layer ones, and the spans
and per-op counters are written to ``.perfbench_traces/``. A human-readable
summary goes to stderr. See ``perfbench/README.md`` for what each metric
means and which workload moves it.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback

import tracing
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
#: per-layer metrics read from an op's spans and jobs; the others are
#: measured by the op loop or reported by the workload (``extra``)
SPAN_METRICS = [
    m["name"] for m in BENCH["per_layer"]
    if m["name"] not in {"mem.peak_pss_mib", "trace.op_s", "trace.attributed_share",
                         "tools.checkpoints.persisted_rdds_delta",
                         *(n for w in workloads.WORKLOADS.values() for n in w.extra)}]


def host_settings() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    # a quarter of the host's memory, between 1 and 6 GiB
    mem_mb = max(1024, min(kib // 1024 // 4, 6144))
    return {"cores": cores, "mem_total_mb": kib // 1024, "driver_memory_mb": mem_mb}


def start_session(name: str, work: str, host: dict):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{host['cores']}]")
        .appName(f"perfbench-{name}")
        .config("spark.driver.memory", f"{host['driver_memory_mb']}m")
        .config("spark.sql.shuffle.partitions", str(host["cores"]))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the status store must still hold every job and stage of an op
        # when the traced run harvests it after the op
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tree_pids() -> list[int]:
    """This process and all its descendants (the JVM and its Python
    workers)."""
    children: dict[int, list[int]] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class MemSampler(threading.Thread):
    """Peak memory of the process tree, sampled from /proc. Each process
    counts its proportional set size, so pages that forked Python workers
    share are counted once rather than once per worker."""

    def __init__(self, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self.halt = threading.Event()

    @staticmethod
    def tree_pss() -> int:
        total = 0
        for pid in tree_pids():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total += next(int(line.split()[1]) for line in fh
                                  if line.startswith("Pss:")) * 1024
            except (OSError, StopIteration, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self.halt.wait(self.interval):
            self.peak = max(self.peak, self.tree_pss())


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — still running: kill it
            proc.kill()
            proc.wait()


def settle(spark, limit: float = 10.0) -> float:
    """Collect garbage in Python and the JVM, then wait (up to ``limit``
    seconds) until the JVM's JIT compiler has been idle for half a second,
    so that an op does not pay for what the work before it left behind.
    Returns the seconds it took."""
    t0 = time.monotonic()
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    last = jit.getTotalCompilationTime()
    while time.monotonic() - t0 < limit:
        time.sleep(0.5)
        now = jit.getTotalCompilationTime()
        if now == last:
            break
        last = now
    return time.monotonic() - t0


def summary(values: list[float]) -> dict:
    """Median, sample count and the highest percentile with at least ten
    samples beyond it (when there are that many)."""
    out = {"median": statistics.median(values), "n": len(values)}
    if len(values) >= 20:
        pct = int(100 * (1 - 10 / len(values)))
        out[f"p{pct}"] = statistics.quantiles(values, n=100)[pct - 1]
    return out


# ---------------------------------------------------------------------------
# traced run
# ---------------------------------------------------------------------------

def install_spans(tr) -> None:
    """Spans around calls made inside the package; the workloads open the
    spans around their own calls into it."""
    from impuls_spark import multi_file
    from impuls_spark.multi_file import MultiFile
    from impuls_spark.feed import FeedDataset
    from impuls_spark.operators.calendars import TruncateCalendars
    from impuls_spark.operators.merge import Merge
    from impuls_spark.streaming import compact

    tr.wrap(FeedDataset, "cascade_delete", "feed.cascade_delete")
    tr.wrap(compact, "compact_flat_dir", "streaming.compact.fold")
    tr.wrap(MultiFile, "_build_intermediate", "multi_file.intermediate")
    tr.wrap(multi_file, "prepare_resources", "resource.prepare")
    tr.wrap(multi_file, "save_feed_parquet", "sources.snapshot.save")
    tr.wrap(multi_file, "load_feed_parquet", "sources.snapshot.load")
    tr.wrap(Merge, "transform", "operators.Merge")
    tr.wrap(TruncateCalendars, "transform", "operators.TruncateCalendars")


def layer_metrics(names, spans: list[dict], jobs: list[dict], lo: float,
                  hi: float) -> dict:
    """One op's value of each per-layer metric in ``names``: an engine
    total (``spark.*``, ``driver.outside_jobs_s``) or ``<span>.<kind>``
    with a kind from ``kinds`` below."""
    tracing.attribute(spans, jobs)

    def dur(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def within(layer):
        # a layer's forced execution (``<layer>.exec``) belongs to it, also
        # when it is a sibling span rather than a child
        ids = tracing.subtree(spans, {layer, layer + ".exec"})
        return [j for j in jobs if j["span"] in ids]

    def covered(layer):
        ivs = [(j["start"], j["end"]) for j in within(layer)]
        return sum(tracing.covered(ivs, s["start"], s["end"])
                   for s in spans if s["name"] == layer)

    kinds = {
        "call_s": dur,
        "calls": lambda layer: sum(s["name"] == layer for s in spans),
        "plan_s": lambda layer: dur(layer + ".plan"),
        "exec_s": lambda layer: dur(layer + ".exec"),
        "jobs": lambda layer: len(within(layer)),
        "cpu_s": lambda layer: sum(j["cpu_s"] for j in within(layer)),
        "shuffle_mb": lambda layer: sum(j["shuffle_write_mb"] for j in within(layer)),
        "output_mb": lambda layer: sum(j["output_mb"] for j in within(layer)),
        "spark_s": covered,
        "driver_s": lambda layer: dur(layer) - covered(layer),
    }
    m = {}
    for name in names:
        layer, kind = name.rsplit(".", 1)
        if name == "driver.outside_jobs_s":
            m[name] = (hi - lo) - tracing.covered(
                [(j["start"], j["end"]) for j in jobs], lo, hi)
        elif layer != "spark":
            m[name] = kinds[kind](layer)
        elif kind == "jobs":
            m[name] = len(jobs)
        elif kind == "cpu_share":
            run_s = sum(j["run_s"] for j in jobs)
            m[name] = sum(j["cpu_s"] for j in jobs) / run_s if run_s else 0.0
        else:
            m[name] = sum(j[kind] for j in jobs)
    return m


# ---------------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import impuls_spark  # noqa: F401 — fail before any work without the package

    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    w = workloads.WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench_work", f"{w.name}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # the JVM that spark-submit runs first to build the driver's command
    # line would otherwise leave a perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()
    try:
        return run(args, w, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, w, work: str) -> int:
    host = host_settings()
    w.prepare(work, args.seed)
    # the memory sampler walks /proc every 0.1 s, so only the traced op
    # loop, whose peak is published, pays for it
    mem = MemSampler() if args.trace else None
    t0 = time.perf_counter()
    spark = start_session(w.name, work, host)
    try:
        return measure(args, w, work, host, spark, mem, t0)
    finally:
        if mem and mem.is_alive():
            mem.halt.set()
            mem.join()
        stop_spark(spark)


def measure(args, w, work: str, host: dict, spark, mem, t0: float) -> int:
    """Set-up's warm-up op (timed from ``t0``, before the session start),
    then the op loop; prints the result line."""
    op_dir = tempfile.mkdtemp(prefix="warmup-", dir=work)
    res = w.warmup(spark, op_dir)
    setup_s = time.perf_counter() - t0
    problems = [f"warm-up: {p}" for p in w.check(res)] if res is not None else []
    shutil.rmtree(op_dir, ignore_errors=True)
    sc = spark.sparkContext

    tr = hv = None
    if args.trace:
        tr = tracing.Tracer()
        install_spans(tr)
        hv = tracing.JobHarvester(sc)
        mem.start()
    first_job = tracing.job_count(sc)
    times, leaks, per_op, failed, seen_jobs, settled = [], [], [], 0, 0, []
    loop_start = time.monotonic()
    i, dt = 0, 0.0
    # a closed loop inside the window: past the workload's fewest ops, the
    # next op starts only if an op as long as the last one would still end
    # inside it
    while i < w.min_ops or time.monotonic() - loop_start + dt <= args.seconds:
        w.stage(i)
        settled.append(settle(spark))
        loop_start += settled[-1]
        op_dir = tempfile.mkdtemp(prefix=f"op{i}-", dir=work)
        tempfile.tempdir = op_dir
        persisted = tracing.persisted_rdds(sc)
        if tr:
            tr.op = i
        lo = time.time()
        t0 = time.perf_counter()
        try:
            res = w.op(spark, i, op_dir, tr)
            op_problems = None
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc()
            res, op_problems = None, ["op raised"]
        dt = time.perf_counter() - t0
        hi = time.time()
        times.append(dt)
        # RDDs the op left persisted, less the traced run's forced ones
        leaks.append(len(tracing.persisted_rdds(sc) - persisted
                         - (tr.forced_rdds if tr else set())))
        if tr:
            jobs, submitted = hv.harvest()
            seen_jobs += len(jobs)
            spans = [s for s in tr.spans if s["op"] == i]
            m = layer_metrics(SPAN_METRICS, spans, jobs, lo, hi)
            m["trace.op_s"] = dt
            # job times are whole milliseconds
            m["trace.attributed_share"] = len(
                [j for j in jobs if j["start"] is not None
                 and lo - 1e-3 <= j["start"] <= hi]) / submitted if submitted else 1.0
            m["tools.checkpoints.persisted_rdds_delta"] = leaks[-1]
            if res:
                m.update(res["extra"])
            per_op.append({"op": i, "metrics": m, "jobs": jobs})
        if op_problems is None:
            op_problems = w.check(res)
        if op_problems:
            failed += 1
            problems += [f"op {i}: {p}" for p in op_problems]
        tempfile.tempdir = work
        shutil.rmtree(op_dir, ignore_errors=True)
        i += 1
    attempted = i
    session_jobs = tracing.job_count(sc) - first_job

    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    info = {"workload": w.name, "seed": args.seed, "host": host,
            "ops": attempted, "op_s": summary(times), "op_times": times,
            "settle_s": settled,
            "setup_s": setup_s,
            "error_rate": failed / attempted,
            "persisted_rdds_left": leaks,
            "session_jobs": session_jobs}
    if args.trace:
        info["peak_pss_mib"] = mem.peak / 2**20
        metrics = {}
        for spec in BENCH["per_layer"]:
            name = spec["name"]
            if name == "mem.peak_pss_mib":
                # a peak over the whole op loop, not a per-op total
                value = info["peak_pss_mib"]
            else:
                value = statistics.median(op["metrics"].get(name, 0.0) for op in per_op)
            metrics[name] = {"value": value, "unit": spec["unit"]}
        info["attributed_jobs"] = seen_jobs
        out_dir = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{w.name}-seed{args.seed}.json"), "w") as fh:
            json.dump({"info": info, "spans": tr.spans, "ops": per_op}, fh)
        if seen_jobs != session_jobs:
            problems.append(f"attributed {seen_jobs} of {session_jobs} session jobs")
    else:
        metrics = {
            "op_s": {"value": statistics.median(times), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "success_rate": {"value": 1 - failed / attempted, "unit": "ratio"},
        }
    print(json.dumps(info), file=sys.stderr)
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
