"""Reindex-path benchmark: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload full_reindex --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout: it drives the engine package
(``reindexer_spark``) found there, and reads and writes only under
``perfbench/.work``.  A run is a closed loop with one client, the next job
starting when the previous one returned:

1. generate the inputs from the seed (cached by seed and size, and timed
   apart from everything else);
2. build the session and register the inputs (the first setup);
3. run the first job of the fresh session (``cold_job_s``);
4. warm up with the workload's fixed number of jobs.  On a 4-core host
   walls keep falling for four to six jobs after the cold one; two
   warm-up jobs take the steepest part of that drift and keep a run
   inside its time budget (every warm-up wall is in the record);
5. run jobs for ``--seconds``, checking every job's output; with
   ``--trace 1`` untraced and traced jobs alternate and the run reports
   the layer figures instead;
6. stop the session, then build it and register the inputs again, four
   times: ``setup_s`` is the median of the five setups of the run.  The
   first one also starts the JVM and is recorded alone as ``launch_s``.

``peak_rss_mb`` is the peak resident memory of the process tree (JVM,
driver, Python workers), counted as PSS so that pages a forked child shares
with its parent count once, over a fixed amount of work: from the first
setup to the end of the third measured job.  The JVM's RSS keeps growing
as its collector touches more of the committed heap, so a peak over all
the jobs that fit in ``--seconds`` would follow the job count, and with it
the job speed, rather than the memory a job needs.

The last line of stdout is the result; the line before it is the full
record: environment, input sizes and every wall.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

MIN_MEASURED, MIN_TRACED = 3, 2
# stop starting new jobs past this many seconds, to end well inside 180 s
DEADLINE_S = 140
SETUPS = 5

END_TO_END = {
    "setup_s": "s",
    "cold_job_s": "s",
    "job_p50_s": "s",
    "docs_per_s": "1/s",
    "peak_rss_mb": "MB",
    "correct_ratio": "ratio",
}


def host_settings() -> dict[str, str]:
    """Session settings sized to this host: every core the process may
    use, a driver heap of a fifth of physical RAM (1-4 GB), and scratch
    space on local disk inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    driver_gb = max(1, min(4, ram // (5 << 30)))
    tmp = os.path.join(WORK, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        # the short-lived JVM that spark-submit runs to build its command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }


def build_session():
    from reindexer_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    heap_gb = int(os.environ["SPARK_GRAFT_DRIVER_MEM"].rstrip("g"))
    # the heap is committed whole and its young generation fixed, so the
    # JVM's RSS follows live data, not run-to-run heap-resizing decisions;
    # no perf-data file, which the JVM would write under /tmp
    jvm = f"-Xms{heap_gb}g -Xmn{heap_gb * 1024 // 3}m -XX:-UsePerfData"
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} {jvm}"
            ),
        },
    )


def cpu_times() -> list[int]:
    """The host-wide CPU time counters of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def stop_jvm() -> None:
    """End the JVM the session launched and wait for it to exit (it exits
    when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Loop:
    """Runs jobs, checks each, and counts attempts, failures and matches."""

    def __init__(self, workload):
        self.wl = workload
        self.attempted = self.failed = self.correct = 0
        self.check_s = 0.0
        self.problems: list[str] = []

    def run(self, traced: bool = False):
        """One job; returns (wall, docs, layers) or None when it raised."""
        self.attempted += 1
        try:
            if traced:
                wall, layers, problems = self.wl.traced()
                docs = None
            else:
                wall, docs, result = self.wl.job()
                t0 = time.perf_counter()
                layers, problems = None, self.wl.check(result)
                self.check_s += time.perf_counter() - t0
        except Exception:  # noqa: BLE001 - a failed job is counted, not fatal
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        if problems:
            self.problems.extend(problems[:3])
            print(f"check failed: {problems}", file=sys.stderr)
        else:
            self.correct += 1
        return wall, docs, layers


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import reindexer_spark  # noqa: F401
    except ImportError as exc:
        print(f"engine package not found under {ROOT}: {exc}", file=sys.stderr)
        return 2
    settings = host_settings()
    for path in (settings["SPARK_LOCAL_DIRS"], settings["TMPDIR"]):
        os.makedirs(path, exist_ok=True)
    os.environ.update(settings)
    tempfile.tempdir = None  # re-read TMPDIR

    from probes import PeakRss, median
    from workloads import LAYER_METRICS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    t_gen = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed, os.path.join(WORK, "inputs"), int(settings["SPARK_GRAFT_CPUS"]))
    gen_s = time.perf_counter() - t_gen

    loop = Loop(wl)
    setups: list[float] = []
    cpu0 = cpu_times()
    with PeakRss() as rss:
        try:
            spark = build_session()
            wl.register(spark)
            # process start to ready, input generation and checks excluded
            setups.append(time.perf_counter() - T0 - gen_s)
            launch_s = setups[0]
            java = spark.sparkContext._jvm.System.getProperty("java.version")

            phases = {"gen": gen_s, "setup": launch_s}
            mark = time.perf_counter()
            cold = loop.run()
            phases["cold"] = time.perf_counter() - mark
            warm = [out[0] for out in (loop.run() for _ in range(wl.warmup)) if out]

            walls, docs, traced_walls, layers = [], [], [], []
            t_measure = time.perf_counter()
            phases["warmup"] = t_measure - mark - phases["cold"]
            while (
                time.perf_counter() - t_measure < args.seconds
                or len(walls) < (MIN_TRACED if args.trace else MIN_MEASURED)
            ) and time.perf_counter() - T0 < DEADLINE_S:
                out = loop.run()
                if out is not None:
                    walls.append(out[0])
                    docs.append(out[1])
                    if len(walls) == MIN_MEASURED:
                        rss.stop()
                if args.trace:
                    out = loop.run(traced=True)
                    if out is not None:
                        traced_walls.append(out[0])
                        layers.append(out[2])

            phases["measure"] = time.perf_counter() - t_measure
            for _ in range(SETUPS - 1):
                spark.stop()
                t_setup = time.perf_counter()
                spark = build_session()
                wl.register(spark)
                setups.append(time.perf_counter() - t_setup)
            spark.stop()
        finally:
            wl.close()
            stop_jvm()

    cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    if args.trace:
        metrics = {
            name: median(lay.get(name, 0) for lay in layers) if layers else 0.0
            for name in LAYER_METRICS
        }
        metrics["trace.overhead_ratio"] = (
            median(traced_walls) / median(walls) if walls and traced_walls else 0.0
        )
        units = LAYER_METRICS
    else:
        metrics = {
            "setup_s": median(setups),
            "cold_job_s": cold[0] if cold else 0.0,
            "job_p50_s": median(walls),
            "docs_per_s": sum(docs) / sum(walls) if walls else 0.0,
            "peak_rss_mb": rss.peak / 2**20,
            "correct_ratio": loop.correct / loop.attempted,
        }
        units = END_TO_END
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": {
            **settings,
            "nproc": os.cpu_count(),
            "ram_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
            "python": platform.python_version(),
            "pyspark": __import__("pyspark").__version__,
            "java": java,
            "platform": platform.platform(),
        },
        "sizes": wl.sizes,
        # time the hypervisor ran something else on this VM's CPUs: a
        # run-wide slowdown with a high share is the host, not the engine
        "cpu_steal_ratio": cpu[7] / max(sum(cpu), 1),
        "phases_s": phases,
        "check_s": loop.check_s,
        "launch_s": launch_s,
        "setups_s": setups,
        "peak_mb_by_command": {k: v / 2**20 for k, v in rss.peak_by_command.items()},
        "warmup_s": warm,
        "walls_s": walls,
        "traced_walls_s": traced_walls,
        "layers": layers,
        "job_fail_ratio": loop.failed / loop.attempted,
        "problems": loop.problems[:10],
        "total_s": time.perf_counter() - T0,
    }
    print("record " + json.dumps(record))
    print(
        json.dumps(
            {
                "correct": loop.correct == loop.attempted,
                "attempted": loop.attempted,
                "failed": loop.failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
