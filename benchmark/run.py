"""Repository benchmark: one driver process, one client in a closed loop.

    python3 benchmark/run.py --workload nightly_etl --seed 1 --seconds 6 --trace 0

Run from the repository root.  The runner generates the workload's inputs
from ``--seed`` (untimed), builds the session (``setup_s``), runs one cold
pass that checks every output against DuckDB, then a fixed number of warm
passes derived from ``--seconds``, and prints one JSON object as the last
line of stdout.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
adds one traced pass after the untraced ones and reports the per-layer
metrics instead.  Per-pass wall and CPU seconds, the hypervisor's steal
share, GC time, heap and peak RSS are printed as ``# pass`` lines before
the result.  A wrong output makes the exit code 1.

Everything the run writes lives under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PACKAGE = "bigdata_scala_offline_data_clean_spark"
SETUP_BUILDS = 3  # setup_s is the median over this many session builds

sys.path.insert(0, str(BENCH))
sys.path.insert(1, str(ROOT))

from curation import Curation  # noqa: E402
from nightly import NightlyEtl  # noqa: E402
from spans import Tracer, totals  # noqa: E402

WORKLOADS = {w.name: w for w in (NightlyEtl, Curation)}


def declared(trace: int) -> dict[str, str]:
    """Metric name -> unit, in ``BENCHMARK.json`` order, for this mode."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}

# ---------------------------------------------------------------------------
# process-tree RSS (driver Python + JVM + Python workers)
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs: the share the hypervisor took
    from this machine, which inflates every wall time it overlaps."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def tree_cpu_seconds(pid: int) -> float:
    """User + system CPU time of ``pid`` and its live descendants."""
    tick, total = os.sysconf("SC_CLK_TCK"), 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            pass
    return total / tick


def tree_rss_bytes(pid: int, min_age_s: float = 1.0) -> int:
    """RSS of ``pid`` and its descendants.  Processes younger than
    ``min_age_s`` are skipped: a child the JVM has just spawned (the Hadoop
    local file system shells out) still reports its parent's memory until
    it execs, which would count the JVM twice."""
    page, tick = os.sysconf("SC_PAGE_SIZE"), os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as f:
        now = float(f.read().split()[0])
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                started = int(f.read().rsplit(")", 1)[1].split()[19]) / tick
            if p != pid and now - started < min_age_s:
                continue
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler(threading.Thread):
    """Samples the process tree's RSS; ``take_peak`` returns the peak since
    the previous call."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop_evt.wait(self.interval)

    def take_peak(self) -> int:
        peak, self.peak = max(self.peak, tree_rss_bytes(os.getpid())), 0
        return peak

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


# ---------------------------------------------------------------------------
# session lifecycle
# ---------------------------------------------------------------------------


def prepare_env(work: Path) -> None:
    """Python workers need the package on PYTHONPATH; every temp/local dir
    stays inside the checkout."""
    for d in ("tmp", "local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    # every JVM (the launcher too) keeps its temp files and perf data local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"


def build(work: Path):
    """``build_session`` until a trivial job completes; returns
    (spark, build_session seconds, total seconds)."""
    from bigdata_scala_offline_data_clean_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session(
        app_name="benchmark",
        warehouse_dir=str(work / "spark-warehouse"),
        # a fixed-size heap keeps the JVM's RSS from following G1's resizing
        extra_conf={"spark.driver.extraJavaOptions":
                    f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"},
    )
    t1 = time.perf_counter()
    spark.range(1).collect()
    return spark, t1 - t0, time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop streaming leftovers and the StateStore pool before the session,
    then end the JVM and wait for every child process."""
    from pyspark import SparkContext

    try:
        for q in spark.streams.active:
            q.stop()
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, 9)
        except OSError:
            pass


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def jvm_heap_mb(spark) -> float:
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


# ---------------------------------------------------------------------------
# passes and metrics
# ---------------------------------------------------------------------------


def run_pass(body, check, spark, tracer, sampler, label: str, log: list) -> dict:
    """Run one pass, then its output check (outside the pass's time and
    RSS window)."""
    spark.catalog.clearCache()
    spark._jvm.System.gc()
    gc0 = jvm_gc_seconds(spark)
    sampler.take_peak()
    cpu0, (steal0, ticks0) = tree_cpu_seconds(os.getpid()), cpu_ticks()
    items, failed = body(spark, tracer)
    steal1, ticks1 = cpu_ticks()
    rec = {
        "pass": label,
        "seconds": sum(s for _, s in items),
        "cpu_s": tree_cpu_seconds(os.getpid()) - cpu0,
        "steal_share": (steal1 - steal0) / max(1, ticks1 - ticks0),
        "gc_s": jvm_gc_seconds(spark) - gc0,
        "heap_used_mb": jvm_heap_mb(spark),
        "peak_rss_mb": sampler.take_peak() / 2**20,
        "attempted": len(items),
        "failed": failed + check(),
        "items": {n: round(s, 4) for n, s in items},
    }
    log.append(rec)
    print("# pass " + json.dumps(rec), flush=True)
    return rec


def layer_metrics(workload, spark, tracer, cold_tracer, traced: dict, neighbours: list[dict],
                  untraced: list[dict], builds: list) -> dict[str, float]:
    """Per-layer metrics from the traced warm pass's spans; night 1 of
    nightly_etl only runs as the (traced) cold pass."""
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m: dict[str, float] = {
        "session.build_s": statistics.median(b[0] for b in builds),
        "jvm.gc_s": statistics.median(r["gc_s"] for r in untraced),
        "jvm.heap_used_mb": statistics.median(r["heap_used_mb"] for r in untraced),
    }
    spans = tracer.spans
    for mod in ("pipelines", "queries"):
        mine = [s for s in spans if s.name.startswith(mod + ".")]
        t = totals(mine)
        wall = sum(s.seconds for s in mine)
        for k in ("jobs", "stages", "tasks", "task_failures", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "executor_run_s", "executor_cpu_s",
                  "fetch_wait_s", "driver_s"):
            m[f"{mod}.{k}"] = t.get(k, 0.0)
        m[f"{mod}.core_busy_ratio"] = t.get("executor_run_s", 0.0) / (wall * cores) if wall else 0.0
    for arch in "ABCD":
        m[f"pipelines.{arch}_s"] = sum(s.seconds for s in spans
                                       if s.name.startswith(f"pipelines.{arch}."))
    for d in (1, 2):
        m[f"pipelines.day{d}_s"] = sum(s.seconds for s in cold_tracer.spans + spans
                                       if s.name.startswith("pipelines.")
                                       and s.name.endswith(f".day{d}"))
    build = [s for s in spans if s.name == "queries.build"]
    m["queries.build_s"] = sum(s.seconds for s in build)
    m["queries.build_jobs"] = totals(build).get("jobs", 0.0)
    m["queries.exec_s"] = sum(s.seconds for s in spans if s.name == "queries.exec")
    m["queries.plan_ms"] = tracer.plan_ms
    every = totals(spans)
    for k in ("python_s", "arrow_bytes_sent", "arrow_bytes_received", "broadcast_bytes"):
        m[f"operators.{k}"] = every.get(k, 0.0)
    for k in ("files_written", "bytes_written", "rows_written", "files_read",
              "bytes_read", "scan_s"):
        m[f"sources.{k}"] = every.get(k, 0.0)
    m["sources.bytes_per_file"] = (m["sources.bytes_written"] / m["sources.files_written"]
                                   if m["sources.files_written"] else 0.0)
    m["sources.delta_kept_ratio"] = (workload.delta_kept_ratio(spark)
                                     if hasattr(workload, "delta_kept_ratio") else 0.0)
    m["trace.overhead_ratio"] = traced["seconds"] / statistics.mean(
        r["seconds"] for r in neighbours)
    m["trace.evicted_ids"] = float(tracer.evicted)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE).is_dir():
        print(f"{PACKAGE}/ not found next to benchmark/: run from a full checkout",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    work = ROOT / ".bench_work" / f"run-{os.getpid()}"
    prepare_env(work)
    sampler = RssSampler()
    spark = None
    try:
        # inputs and oracles are the benchmark's cost: before any timing
        wl = WORKLOADS[args.workload](str(work), args.seed,
                                      str(ROOT / ".bench_work" / "oracle_cache"))
        gen_s = time.perf_counter() - t_start
        sampler.start()
        t_setup = time.perf_counter()
        builds = []
        for _ in range(SETUP_BUILDS):
            if spark is not None:
                spark.stop()
            spark, build_s, setup_s = build(work)
            builds.append((build_s, setup_s))

        setup_total_s = time.perf_counter() - t_setup
        log: list[dict] = []
        off = Tracer(spark, enabled=False)
        cold_tracer = Tracer(spark, enabled=bool(args.trace))
        cold = run_pass(wl.cold_pass, wl.check_cold, spark, cold_tracer, sampler, "cold", log)
        n_warm = max(1, round(args.seconds / wl.nominal_pass_s))
        warm = [run_pass(wl.warm_pass, wl.check_warm, spark, off, sampler, f"warm{i + 1}", log)
                for i in range(n_warm)]
        if args.trace:
            on = Tracer(spark, enabled=True)
            traced = run_pass(wl.warm_pass, wl.check_warm, spark, on, sampler, "traced", log)
            # bracket the traced pass with untraced ones so warm-up drift
            # does not read as tracing overhead
            after = run_pass(wl.warm_pass, wl.check_warm, spark, off, sampler, "untraced", log)
            metrics = layer_metrics(wl, spark, on, cold_tracer, traced,
                                    [warm[-1], after], warm, builds)
        attempted = sum(r["attempted"] for r in log)
        failed = sum(len(r["failed"]) for r in log)
        t_down = time.perf_counter()
        shutdown(spark)
        spark = None
        sampler.stop()
        teardown_s = time.perf_counter() - t_down
        if not args.trace:
            pass_s = statistics.median(r["seconds"] for r in warm)
            metrics = {
                "setup_s": statistics.median(b[1] for b in builds),
                "first_pass_s": cold["seconds"],
                "pass_s": pass_s,
                "rows_per_s": wl.rows_per_pass / pass_s,
                "ok_frac": (attempted - failed) / attempted,
                "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in warm),
            }
        print(f"# summary workload={args.workload} seed={args.seed} warm_passes={n_warm} "
              f"rows_per_pass={wl.rows_per_pass} inputs_and_oracles_s={gen_s:.1f} "
              f"setup_total_s={setup_total_s:.1f} teardown_s={teardown_s:.1f} "
              f"run_s={time.perf_counter() - t_start:.1f}", flush=True)
        units = declared(args.trace)
        if set(units) != set(metrics):
            raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(units) ^ set(metrics)}")
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
        print(json.dumps(result), flush=True)
        return 0 if failed == 0 else 1
    finally:
        if spark is not None:
            shutdown(spark)
        if sampler.is_alive():
            sampler.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
