"""End-to-end benchmark of the ETL engine's DAG entry points.

    python3 perfbench/run.py --workload etl_bulk_csv --seed 1 --seconds 20 --trace 0

Run from the repository root. One process is one closed-loop caller, the
way cron plus the workflow interpreter calls the engine: each DAG run is
triggered only after the previous one finished and its outputs were
checked. The engine runs on ``local[<cores available>]``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced DAG runs and reports the per-layer metrics (see
``tracing.py``). Human-readable report lines come first; the last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.

Everything the run writes lives under ``.perfbench_tmp/`` (removed at
exit), ``.perfbench_cache/`` (inputs, kept per seed) and
``.perfbench_out/`` (span files) in the working directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (name, unit) of the metrics the last line carries with --trace 0; the
# same list as "end_to_end" in BENCHMARK.json. peak_rss_mb is only printed:
# it follows the JVM's adaptive heap growth, and runs of the same code on a
# shared 4-vCPU VM spread 0.2-0.4 in it.
END_TO_END = [
    ("setup_s", "s"),
    ("job_p50_s", "s"),
    ("input_rows_per_s", "rows/s"),
    ("stored_bytes_per_input_byte", "ratio"),
]
RSS_INTERVAL_S = 0.2  # how often PeakRss samples /proc
WARM_UP_S = 15.0  # see warm_up()


def _cpu_ticks() -> list[int]:
    """Aggregate CPU tick counters from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class PeakRss(threading.Thread):
    """Samples the resident memory of this process and all descendants
    (the JVM and its Python workers) from /proc; keeps the peak."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_bytes = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def run(self) -> None:
        while not self._stop_event.wait(RSS_INTERVAL_S):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, ValueError, IndexError):
                    continue  # the process exited while we listed
                children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=5)
        self.sample()


def start_session(tmp: str):
    """The engine's session, with every directory it writes under ``tmp``
    or the directories named by ``SPARK_LOCAL_DIRS`` and ``TMPDIR``."""
    from etl_workflows_spark import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_jvm() -> None:
    """Stop the Spark gateway JVM this process launched and wait for it
    (its Python workers end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def cache_dir(cwd: str, wl_cls, seed: int, size: int) -> str:
    return os.path.join(cwd, ".perfbench_cache", wl_cls.name, f"seed{seed}-n{size}")


def warm_session(spark, wl_cls, tmp: str, seed: int, cwd: str) -> float:
    """The last step of set-up: one small DAG run of the workload in its
    own database, so that Python worker start-up, class loading and first
    code generation are paid before timing. Returns the seconds spent
    generating the small input, which are not set-up."""
    wl = wl_cls(spark, os.path.join(tmp, "warm-small"), "warm_small", seed,
                cache_dir(cwd, wl_cls, seed, wl_cls.small_size), size=wl_cls.small_size)
    wl.land(0)
    wl.trigger(0)
    return wl.generate_s


def warm_up(spark, wl_cls, tmp: str, seed: int, cache: str) -> None:
    """Untimed full-size DAG runs of the workload in its own database for
    WARM_UP_S, after set-up and before measuring: job times keep falling
    by 20-30% over the first ten full-size runs of a process while the JIT
    compiles engine paths. A time and not a count of runs, so that a slow
    host cannot stretch a run past the protocol's budget."""
    wl = wl_cls(spark, os.path.join(tmp, "warm"), "warm", seed, cache)
    deadline = time.perf_counter() + WARM_UP_S
    i = 0
    while time.perf_counter() < deadline:
        wl.land(i)
        wl.trigger(i)
        i += 1


class RunStats:
    def __init__(self):
        self.job_s: list[float] = []
        self.traced_job_s: list[float] = []
        self.rows = 0
        self.input_bytes = 0
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.stored_ratio = None
        self.check_s = 0.0
        self.steal = 0.0


def measure(wl, seconds: float, tracer=None) -> RunStats:
    """Closed loop of DAG runs for ``seconds``: land the input, time the
    DAG run, then check its outputs. With a tracer, half of the runs are
    traced and followed by their isolation passes; a traced loop makes at
    least one run of each kind."""
    st = RunStats()
    ticks = _cpu_ticks()
    deadline = time.perf_counter() + seconds
    min_runs = 2 if tracer is not None else 1
    i = 0
    started = time.perf_counter()
    # start another run only if a run of average length (land, DAG,
    # check) still ends before the deadline
    while i < min_runs or time.perf_counter() + (time.perf_counter() - started) / i <= deadline:
        rows, nbytes = wl.land(i)
        # U T T U U T T U ...: each kind runs first as often as second
        traced = tracer is not None and i % 4 in (1, 2)
        st.attempted += 1
        ok = False
        if traced:
            tracer.begin(i)
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.dag():
                    result = wl.trigger(i)
            else:
                result = wl.trigger(i)
            ok = result == wl.expected_result(i)
            if not ok:
                print(f"run {i}: DAG returned {result!r}", file=sys.stderr)
        except Exception:
            traceback.print_exc()
        elapsed = time.perf_counter() - t0
        if traced:
            tracer.finish()
        (st.traced_job_s if traced else st.job_s).append(elapsed)
        if not traced:
            st.rows += rows
            st.input_bytes += nbytes
        if not ok:
            st.failed += 1
        else:
            t_check = time.perf_counter()
            try:
                problems = wl.check(i)
            except Exception:
                traceback.print_exc()
                problems = ["check raised"]
            st.check_s += time.perf_counter() - t_check
            if problems:
                st.wrong += 1
                print(f"run {i}: wrong output: {problems[:5]}", file=sys.stderr)
        if st.stored_ratio is None and ok and nbytes:
            st.stored_ratio = wl.stored_bytes() / nbytes
        i += 1
    st.steal = steal_share(ticks, _cpu_ticks())
    return st


def tail_percentile(samples: list[float]):
    """(percentile, value) of the highest percentile above the median that
    has at least ten samples beyond it, or None when there are too few."""
    n = len(samples)
    ordered = sorted(samples)
    for p in (99.9, 99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return p, ordered[max(0, math.ceil(p / 100 * n) - 1)]
    return None


def drift_ratio(samples: list[float]) -> float | None:
    q = len(samples) // 4
    if q == 0:
        return None
    return statistics.median(samples[-q:]) / statistics.median(samples[:q])


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report_end_to_end(name: str, seed: int, st: RunStats, setup_s: float,
                      peak_mb: float) -> dict:
    n = len(st.job_s)
    completed = st.attempted - st.failed
    metrics = {
        "setup_s": setup_s,
        "job_p50_s": statistics.median(st.job_s),
        "input_rows_per_s": st.rows / sum(st.job_s),
        "stored_bytes_per_input_byte": st.stored_ratio or 0.0,
    }
    tail = tail_percentile(st.job_s)
    drift = drift_ratio(st.job_s)
    print(f"{name} seed={seed}: {st.attempted} DAG runs, {completed} completed, "
          f"{st.failed} failed, {st.wrong} wrong; output checks took {st.check_s:.3f} s; "
          f"host steal {100 * st.steal:.1f}% of CPU time while measuring")
    print(f"  setup_s                      {_fmt(setup_s)} s "
          "(process start to a warm session)")
    print(f"  job_p50_s                    {_fmt(metrics['job_p50_s'])} s (n={n}; "
          f"{', '.join(f'{t:.3f}' for t in st.job_s)})")
    if tail:
        print(f"  job_tail_s                   {_fmt(tail[1])} s (p{tail[0]:g}, n={n})")
    else:
        print(f"  job_tail_s                   omitted: {n} runs leave no percentile "
              "above the median with ten samples beyond it")
    print(f"  input_rows_per_s             {_fmt(metrics['input_rows_per_s'])} rows/s "
          f"({st.rows} input rows, {st.input_bytes} bytes over {n} runs)")
    print(f"  failed_ratio                 {_fmt(st.failed / st.attempted)} "
          f"({st.failed}/{st.attempted})")
    print(f"  wrong_ratio                  "
          f"{_fmt(st.wrong / completed if completed else 0.0)} ({st.wrong}/{completed})")
    print(f"  stored_bytes_per_input_byte  {_fmt(metrics['stored_bytes_per_input_byte'])} "
          "(after the first DAG run)")
    print(f"  peak_rss_mb                  {_fmt(peak_mb)} MB (not in the result line)")
    if drift is None:
        print(f"  job_drift_ratio              omitted: {n} runs")
    else:
        print(f"  job_drift_ratio              {_fmt(drift)} "
              f"(median of last {n // 4} / first {n // 4} runs)")
    return {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END}


def report_layers(name: str, seed: int, st: RunStats, layers: dict) -> dict:
    from tracing import LAYER_METRICS

    job = statistics.median(st.traced_job_s) if st.traced_job_s else 0.0
    print(f"{name} seed={seed} traced: {len(st.traced_job_s)} traced and "
          f"{len(st.job_s)} untraced DAG runs; traced job_p50_s {_fmt(job)} s; "
          f"trace.overhead_ratio {_fmt(layers['trace.overhead_ratio'])}; "
          f"host steal {100 * st.steal:.1f}% of CPU time while measuring")
    print(f"  {'layer metric (per DAG run)':46s} {'value':>12s}  share of job")
    for metric, unit in LAYER_METRICS:
        v = layers[metric]
        share = f"{100 * v / job:6.1f}%" if unit == "s" and job else ""
        print(f"  {metric:46s} {_fmt(v):>12s} {unit:6s} {share}")
    return {k: {"value": layers[k], "unit": u} for k, u in LAYER_METRICS}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds through the finally below, which stops the JVM and
    # removes the run's temporary directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "etl_workflows_spark", "__init__.py")):
        print(f"perfbench: no etl_workflows_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl_cls = workloads.WORKLOADS[args.workload]

    cwd = os.getcwd()
    tmp_parent = os.path.join(cwd, ".perfbench_tmp")
    tmp = os.path.join(tmp_parent, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "local"))
    os.makedirs(os.path.join(tmp, "jvm-tmp"))
    os.environ["TMPDIR"] = os.path.join(tmp, "jvm-tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the JVM that builds the spark-submit command would otherwise write
    # its perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    cache = cache_dir(cwd, wl_cls, args.seed, wl_cls.default_size)

    rss = PeakRss()
    rss.start()
    spark = None
    try:
        spark = start_session(tmp)
        generate_s = warm_session(spark, wl_cls, tmp, args.seed, cwd)
        setup_s = _process_age() - generate_s
        warm_up(spark, wl_cls, tmp, args.seed, cache)
        wl = wl_cls(spark, os.path.join(tmp, "run"), "perf", args.seed, cache)
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install(wl.registry)
        st = measure(wl, args.seconds, tracer)
        rss.stop()
        if args.trace:
            tracer.uninstall()
            tracer.write_spans(os.path.join(
                cwd, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.jsonl"))
            metrics = report_layers(args.workload, args.seed, st, tracer.summary(st.job_s))
        else:
            metrics = report_end_to_end(args.workload, args.seed, st, setup_s,
                                        rss.peak_bytes / 2**20)
    finally:
        # nested so that a failing step (even printing to a closed pipe)
        # cannot skip stopping the JVM or removing the temporary root
        try:
            if spark is not None:
                try:
                    spark.stop()
                except Exception:
                    traceback.print_exc()
        finally:
            try:
                stop_jvm()
            finally:
                if rss.is_alive():
                    rss.stop()
                shutil.rmtree(tmp, ignore_errors=True)
                try:
                    os.rmdir(tmp_parent)
                except OSError:
                    pass  # another run still uses it
    print(json.dumps({
        "correct": st.wrong == 0 and st.failed == 0,
        "attempted": st.attempted,
        "failed": st.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
