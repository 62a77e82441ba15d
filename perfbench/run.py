"""semlake benchmark runner.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. One driver process
starts a ``local[<cores>]`` Spark session, writes the workload's seeded
inputs under ``.perfbench/`` in the checkout, runs untimed warm-up
passes, then runs the workload as a closed loop (one client; each
operation starts when the previous one has finished) for ``--seconds``
seconds. Every collected output is checked against an independent
numpy/pandas reference after the loop. The last line of standard
output is one JSON object::

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
taken from traced passes that alternate with untraced ones (their
difference is the tracing overhead). A human-readable summary goes to
standard error. ``--scale tiny`` shrinks every input for the smoke test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


# ----------------------------------------------------------- environment


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def configure_env(root: str, work_dir: str) -> int:
    """Spark settings for the machine it runs on: all cores, a driver
    heap well below physical memory, the checkout on the Python workers'
    path, and shuffle, spill and temporary files inside the run's work
    directory.

    Two settings keep runnable threads near the core count, so a run
    measures the program rather than the scheduler: numpy's BLAS runs
    one thread per Python worker (the Spark tasks are the parallelism),
    and the driver JVM compiles with C1 only. With tiered compilation,
    C2's background compiles compete with the tasks for the same few
    cores for the whole of a one-minute run and keep pass times
    drifting; with C1 only they settle after one warm-up pass (on a
    4-core VM, one ann_index cycle took 3.05 s tiered and 2.68 s C1-only).
    """
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    heap_mb = max(512, min(1024, _mem_total_mb() // 4))
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    )
    return cores


class RssSampler:
    """Peak resident memory summed over this process and all of its
    descendants (the driver JVM and the Python workers), sampled. A scan
    of /proc costs a few milliseconds of the driver's Python; four a
    second keep that small next to the work measured."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def _tree_rss_kb(root_pid: int) -> int:
        parent, rss = {}, {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/status") as fh:
                    fields = dict(
                        line.split(":", 1) for line in fh if ":" in line
                    )
            except OSError:
                continue
            pid = int(entry)
            parent[pid] = int(fields["PPid"])
            rss[pid] = int(fields.get("VmRSS", "0 kB").split()[0])
        total = 0
        for pid in rss:
            p = pid
            while p and p != root_pid:
                p = parent.get(p, 0)
            if p == root_pid:
                total += rss[pid]
        return total

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(me))
            self._stop.wait(self.interval)


def stop_spark() -> None:
    """Stop the Spark context if one is running, then close the driver
    JVM's stdin (which ends it and its Python workers) and wait until
    it has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


# ----------------------------------------------------------------- stats


def tail(values: list[float]) -> tuple[int | None, float | None]:
    """Highest whole percentile with at least ten samples beyond it
    (nearest-rank), or (None, None) below eleven samples."""
    n = len(values)
    if n < 11:
        return None, None
    p = (100 * (n - 10)) // n
    rank = max(1, -(-p * n // 100))
    return p, sorted(values)[rank - 1]


def summarize(name: str, values: list[float]) -> str:
    p, v = tail(values)
    med = statistics.median(values)
    extra = f", p{p}={v:.4f}" if p is not None else ""
    each = " ".join(f"{v:.3f}" for v in values)
    return f"{name}: median={med:.4f}{extra}, n={len(values)} [{each}]"


# ------------------------------------------------------------ per-layer


def layer_metrics(tracer, per_pass: list[dict]) -> list[dict]:
    """Per-layer figures of each traced pass, as {metric: value}."""
    out = []
    for pno in sorted({s["pass"] for s in tracer.spans}):
        spans = [s for s in tracer.spans if s["pass"] == pno]
        m: dict[str, float] = {}

        def add(key, v):
            m[key] = m.get(key, 0) + v

        for s in spans:
            layer = s["name"]
            add(f"{layer}.wall_s", tracer.self_time(s))
            add(f"{layer}.failed_tasks", s["failed_tasks"])
            add(f"{layer}.jobs", s["jobs"])
            add(f"{layer}.build_s", s.get("build_end", s["end"]) - s["start"])
            add(f"{layer}.idle_core_s", s["idle_core_s"])
            add(f"{layer}.shuffle_write_bytes", s["shuffle_write_bytes"])
            add(f"{layer}.driver_result_bytes", s["result_bytes"])
            add(f"{layer}.executor_cpu_s", s["cpu_s"])
            add(f"{layer}.input_bytes", s["input_bytes"])
            py_s, py_rows = s.get("python", (0.0, 0))
            add(f"{layer}.python_s", py_s)
            add(f"{layer}.rows_out", py_rows)
            add(f"{layer}.files_read", s.get("files_read", 0))
        m.update(per_pass[pno])
        out.append(m)
    return out


# ------------------------------------------------------------------ main


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, HERE)
    sys.path.insert(0, root)
    try:
        import semantic_ann_in_data_lake_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in {root}: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work_dir = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir)
    cores = configure_env(root, work_dir)
    try:
        with RssSampler() as rss:
            result = run(args, work_dir, cores, rss)
    finally:
        stop_spark()
        shutil.rmtree(work_dir, ignore_errors=True)
    section = "per_layer" if args.trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec[section]}
    got = result["metrics"]
    missing = sorted(set(want) - set(got))
    if missing and not args.trace:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 3
    # a layer this workload never calls reads 0
    result["metrics"] = {
        k: {"value": float(got[k]["value"]) if k in got else 0.0, "unit": want[k]}
        for k in want
    }
    print(json.dumps(result))
    return 0


def run(args, work_dir: str, cores: int, rss):
    from spans import Tracer
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    from semantic_ann_in_data_lake_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark, False, f"{args.workload}-{args.seed}")
    wl = WORKLOADS[args.workload](spark, tracer, work_dir, args.scale)

    # set-up: inputs, then untimed warm-up passes
    t1 = time.perf_counter()
    wl.prepare(args.seed)
    gen_s = time.perf_counter() - t1
    warm = []
    for _ in range(wl.WARMUPS):
        t1 = time.perf_counter()
        wl.warm()
        warm.append(time.perf_counter() - t1)
    setup_s = session_s + gen_s + sum(warm)
    log = lambda msg: print(f"[{args.workload} seed={args.seed}] {msg}", file=sys.stderr)
    log(f"setup_s={setup_s:.3f} (session {session_s:.3f}, inputs {gen_s:.3f}, "
        f"warm-up {' + '.join(f'{w:.3f}' for w in warm)})")

    # measured phase: one-time start, then a closed loop; a traced run
    # alternates untraced and traced operations
    start = wl.start()
    min_ops = max(wl.MIN_OPS, 2 if args.trace else 1)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    outputs, lat, attempted, raised = [], [], 0, 0
    traced_extra: list[dict] = []
    deadline = time.perf_counter() + args.seconds
    while (time.perf_counter() < deadline or attempted < min_ops) and attempted < 1000:
        traced = bool(args.trace) and attempted % 2 == 1
        tracer.enabled = traced
        tracer.pass_no = len(traced_extra)
        attempted += 1
        held = persisted().size()
        p0 = time.perf_counter()
        out = kinds = None
        try:
            out, kinds = wl.op()
        except Exception as e:  # a failed operation counts, the loop goes on
            raised += 1
            log(f"operation {attempted} raised {type(e).__name__}: {e}")
        finally:
            elapsed = time.perf_counter() - p0
            tracer.enabled = False
            if traced:
                tracer.collect_counters(cores)
                tracer.release()
                traced_extra.append({
                    "cache.persisted_frames": (kinds or {}).get("persisted_frames", 0),
                    "cache.unreleased_frames": persisted().size() - held,
                })
        if out is not None:
            outputs.append(out)
            lat.append(dict(kinds, pass_s=elapsed, traced=traced))
    peak_mb = rss.peak_kb / 1024

    # output checks, outside the timed region
    failed_checks, quality = wl.check(outputs)
    failed = raised + failed_checks
    plain = [l for l in lat if not l["traced"]]
    for key in ("pass_s", "ingest_s", "search_s", "exact_search_s"):
        vals = [l[key] for l in plain if key in l]
        if vals:
            log(summarize(key, vals))
    if "index_build_s" in start:
        log(f"index_build_s={start['index_build_s']:.4f}")
    log(f"attempted={attempted} failed={failed} failed_frac={failed / attempted:.4f} "
        f"peak_rss_mb={peak_mb:.1f} "
        + " ".join(f"{k}={v}" for k, v in quality.items() if k != "grid_rows"))
    if "grid_rows" in quality:
        for row in quality["grid_rows"]:
            log(f"grid {row}")

    metrics = {
        "setup_s": {"value": setup_s},
        "pass_s": {"value": statistics.median(l["pass_s"] for l in plain)},
        "peak_rss_mb": {"value": peak_mb},
    }
    if args.trace:
        metrics = traced_metrics(tracer, lat, traced_extra, start, quality, session_s)
        os.makedirs(os.path.join(os.getcwd(), ".perfbench", "traces"), exist_ok=True)
        tracer.write(os.path.join(os.getcwd(), ".perfbench", "traces",
                                  f"{args.workload}-{args.seed}.json"))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def traced_metrics(tracer, lat, traced_extra, start, quality, session_s):
    """Per-layer metrics: medians over the traced passes, plus figures
    the workload measured itself (index build, per-kind latencies of
    the untraced passes, quality from the output checks)."""
    passes = layer_metrics(tracer, traced_extra)
    keys = sorted({k for m in passes for k in m})
    med = {k: statistics.median(m.get(k, 0) for m in passes) for k in keys}
    plain = [l["pass_s"] for l in lat if not l["traced"]]
    traced = [l["pass_s"] for l in lat if l["traced"]]
    out = dict(med)
    out["session.start_s"] = session_s
    out["trace.overhead_s"] = (
        statistics.median(traced) - statistics.median(plain) if traced and plain else 0.0
    )
    ivf = "operators.ivf_index"
    out[f"{ivf}.build_wall_s"] = start.get("index_build_s", 0.0)
    out[f"{ivf}.refresh_wall_s"] = _median_kind(lat, "ingest_s")
    out[f"{ivf}.search_wall_s"] = _median_kind(lat, "search_s")
    out[f"{ivf}.files_written"] = _median_kind(lat, "files_written")
    out[f"{ivf}.probe_fraction"] = quality.get("probe_fraction", 0.0)
    slots = quality.get("knn_slots")
    if slots:
        out["operators.knn.survivor_ratio"] = med.get("operators.knn.rows_out", 0) / slots
    out[f"{ivf}.recall_at_10"] = quality.get("recall_at_10", 0.0)
    return {k: {"value": v} for k, v in out.items()}


def _median_kind(lat, key):
    vals = [l[key] for l in lat if key in l and not l["traced"]]
    return statistics.median(vals) if vals else 0.0


if __name__ == "__main__":
    sys.exit(main())
