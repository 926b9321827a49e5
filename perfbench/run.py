"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload of ``BENCHMARK.json`` in this process: generates the
fixture tables, starts a ``local[nproc]`` Spark session, prepares the
workload and runs its untimed warm-up (all charged to ``setup_s``), then
times as many whole passes as fit ``--seconds``, checks every pass's
outputs untimed, and prints as its last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` splits the
window in two: untraced passes first, then, in a fresh SparkContext with
the event log on and a job group around every call into the program,
traced passes; it reports the per-layer metrics, including the tracing
overhead between the two halves, and leaves the spans in
``.perfbench/trace-<workload>-s<seed>.json``.

Everything else the run writes stays under ``.perfbench/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("medallion_monthly", "query_mix")
DATA_SEED = 42  # the fixture tables; the workload seed only drives choices

# Input sizes (perfbench/README.md says why).
QUERY_SF = 0.001
MEDALLION_SF = 0.1
MONTHLY_BASE = (1, 2)
MONTHLY_MONTHS = (3,)
MONTHLY_COPIES = 16


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--sf", type=float, default=None,
        help="scale factor of the generated tables (default: the workload's own)",
    )
    a = p.parse_args(argv)
    if a.seconds <= 0:
        p.error("--seconds must be positive")
    return a


def require_program() -> None:
    """Exit with code 2, before any JVM starts, outside a checkout. Put
    the checkout, not this directory, first on the import path, so that
    ``perfbench``'s module names cannot shadow others'."""
    for rel in (
        "python_nyc_taxi_data_pipeline_spark/pipeline/medallion.py",
        "python_nyc_taxi_data_pipeline_spark/registry.py",
        "tools/oracle_check.py",
        "__spark_entry__.py",
    ):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            print(f"perfbench: {rel} not found; run from a checkout of the repository",
                  file=sys.stderr)
            raise SystemExit(2)
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None
    once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(root: int) -> dict[int, str]:
    """Every live descendant of ``root``: pid -> start time, which tells a
    process from a later one given the same pid."""
    children: dict[int, list[int]] = {}
    starts: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            children.setdefault(int(st[1]), []).append(int(name))
            starts[int(name)] = st[19]
    out, todo = {}, list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out[pid] = starts[pid]
        todo.extend(children.get(pid, ()))
    return out


def _alive(pid: int, start: str) -> bool:
    st = _stat(pid)
    return st is not None and st[19] == start and st[0] != "Z"


def end_all(procs: dict[int, str], grace: float = 10.0) -> None:
    """Wait up to ``grace`` seconds for ``procs`` to end, then kill the
    rest and wait for them too."""
    for sig in (None, signal.SIGKILL):
        if sig is not None:
            for pid, start in procs.items():
                if _alive(pid, start):
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
        deadline = time.monotonic() + grace
        while any(_alive(p, s) for p, s in procs.items()) and time.monotonic() < deadline:
            time.sleep(0.05)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


class Run:
    """One benchmark process: its scratch directory, Spark session and
    the tally of operations attempted and failed."""

    def __init__(self, args):
        self.args = args
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(OUT_DIR, f"{args.workload}-s{args.seed}-p{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("tmp", "spark-local", "data"):
            os.makedirs(os.path.join(self.work, sub))
        # keep the scratch writes of Python, the JVM and Spark in the checkout
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        # every JVM of the run, the launcher too: no perf data or temp files
        # outside the checkout
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
        )
        self.spark = None
        self.attempted = 0
        self.failed = 0

    def start_session(self, event_log: str | None = None):
        from python_nyc_taxi_data_pipeline_spark.session import get_session

        conf = {
            "spark.driver.memory": "4g",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": event_log,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_session(
            f"perfbench-{self.args.workload}",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def stop_jvm(self) -> None:
        """Stop the Spark session, then the JVM behind it and every process
        it started (the PySpark worker daemon and its workers, which move
        to a process group of their own), and wait until all have ended."""
        try:
            self.stop_session()
        except Exception:
            traceback.print_exc()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        tree = descendants(os.getpid())
        try:
            gateway.shutdown()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        end_all(tree)
        if proc is not None:
            proc.wait()

    def jvm_peak_rss_mb(self) -> float:
        from perfbench.trace import peak_rss_mb

        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return peak_rss_mb(int(pid))

    def make_workload(self):
        from perfbench import feeds, workloads

        a = self.args
        if a.workload == "query_mix":
            return workloads.QueryMix(a.seed), a.sf or QUERY_SF
        plan = feeds.make_plan(MONTHLY_MONTHS, MONTHLY_BASE, MONTHLY_COPIES, a.seed)
        return workloads.Medallion(plan), a.sf or MEDALLION_SF

    def record(self, checks) -> None:
        for name, ok, detail in checks:
            self.attempted += 1
            if not ok:
                self.failed += 1
                print(f"perfbench: check {name} failed: {detail}", file=sys.stderr)

    def timed_passes(self, wl, tracer, seconds: float) -> list:
        """As many passes as fit ``seconds`` at the workload's nominal
        pass time (at least one), then the untimed checks of each. The
        count depends only on ``seconds``, so every run of a workload
        does the same work."""
        passes = [wl.run_pass(tracer) for _ in range(max(1, int(seconds // wl.pass_s)))]
        for res in passes:
            wl.check(res)
            self.account(res)
        return passes

    def account(self, res) -> None:
        """Tally a checked pass: its calls, the calls that raised, its checks."""
        self.attempted += len(res.ops) + res.failures
        self.failed += res.failures
        self.record(res.checks)


def traced_half(run: Run, wl, window: float, untraced_wall: float) -> dict[str, float]:
    """The traced passes, in a new SparkContext with the event log on;
    per-layer metrics from their spans and the folded event log."""
    from perfbench import metrics, trace, workloads

    rss = run.jvm_peak_rss_mb()
    run.stop_session()
    evdir = os.path.join(run.work, "eventlog")
    # the inputs stay on disk; only the session is new
    wl.spark = spark = run.start_session(event_log=evdir)
    tracer = trace.Tracer(spark, jobs=True)
    floor = []
    for _ in range(5):
        with tracer.span("range_count", "session") as sp:
            spark.range(1).count()
        floor.append(sp.seconds)
    if isinstance(wl, workloads.Medallion):
        wl.write_source(tracer)
    traced = run.timed_passes(wl, tracer, window)
    rss = max(rss, run.jvm_peak_rss_mb())
    run.stop_session()
    counts = trace.fold_event_log(trace.event_log_files(evdir))
    tracer.dump(os.path.join(OUT_DIR, f"trace-{run.args.workload}-s{run.args.seed}.json"), counts)
    out = metrics.per_layer(wl, tracer, traced, counts)
    for p in traced:
        wl.cleanup(p)
    out.update(
        {
            "floor.noop_s": statistics.median(floor),
            "jvm.peak_rss_mb": rss,
            "trace.overhead_frac": metrics.median_wall(traced) / untraced_wall - 1.0,
        }
    )
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    require_program()
    from perfbench import datagen, metrics, trace

    signal.signal(signal.SIGTERM, _terminate)
    run = Run(args)
    result: dict[str, float] = {}
    summary: dict[str, float] = {}
    try:
        wl, sf = run.make_workload()
        data_dir = os.path.join(run.work, "data")
        datagen.write_tables(datagen.generate(sf, DATA_SEED, wl.tables), data_dir)
        wl.prepare(run.start_session(), data_dir, run.work)
        for res in wl.warm_up(trace.Tracer()):
            run.account(res)
        setup_s = time.perf_counter() - T_START

        window = args.seconds / 2 if args.trace else args.seconds
        host = trace.HostLoad()
        passes = run.timed_passes(wl, trace.Tracer(), window)
        labels = host.labels()
        print(f"host {json.dumps(labels)}")
        print(metrics.sample_counts(passes))
        summary = metrics.summary(wl, passes)
        for p in passes:
            wl.cleanup(p)
        e2e = metrics.end_to_end(setup_s, passes)
        if not args.trace:
            result = e2e
        else:
            result = {
                **metrics.empty_per_layer(),
                **traced_half(run, wl, window, e2e["wall_s"]),
                **summary,
                "host.loadavg": labels["loadavg_end"] or 0.0,
                "host.steal_frac": labels.get("steal_frac", 0.0),
                "host.iowait_frac": labels.get("iowait_frac", 0.0),
            }
    except Exception:
        traceback.print_exc()
        run.attempted += 1
        run.failed += 1
    finally:
        run.stop_jvm()
        shutil.rmtree(run.work, ignore_errors=True)

    if not result:
        print(f"perfbench: {args.workload} produced no result", file=sys.stderr)
        return 1
    attempted = max(1, run.attempted)
    print(f"{args.workload} seed {args.seed}: {attempted} operations, {run.failed} failed, "
          f"ops_failed_frac {run.failed / attempted:.4f} 1")
    for k, v in {**summary, **result}.items():
        print(f"  {k} = {v:.6g} {metrics.unit(k)}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": metrics.unit(k)} for k, v in result.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
