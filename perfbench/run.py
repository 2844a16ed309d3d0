"""End-to-end benchmark of the two deployable jobs.

    python3 perfbench/run.py --workload er --seed 1 --seconds 5 --trace 0

Run from the repository root. One process starts one local[nproc] Spark
session, writes the workload's seeded inputs under ``.perfbench_work/``,
and runs the job once cold: session start, inputs and the cold run (JIT
and class loading) are the set-up, ``setup_s``. Then the job runs warm
again and again for ``--seconds``, and at least the workload's
``warm_runs`` times; ``wall_s`` and ``cpu_s`` are medians over the warm
runs. Every run's output is checked.
The last stdout line is the result JSON ``{"correct", "attempted",
"failed", "metrics"}``. The line before it records the host (nproc, load
average, CPU steal) and each run's wall, CPU seconds and job count.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on the
Spark event log, runs the job cold and once warm, then replays it layer by
layer (``perfbench/layers.py``), and reports the per-layer metrics parsed
from the log (``perfbench/eventlog.py``). ``trace.overhead_s`` is the
replay's wall minus the warm run's.

``--scaling`` runs the ``er`` workload at local[1] and local[nproc] in two
child processes and prints ``scaling_eff`` = (wall_1 / wall_n) / n. It is
a diagnostic, not part of the benchmark contract.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path[:0] = [ROOT, os.path.join(ROOT, "jobs")]

from perfbench.workloads import WORKLOADS, CheckFailed  # noqa: E402


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS), default="er")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] parallelism (default: nproc)")
    p.add_argument("--scaling", action="store_true")
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _tree_pids() -> list[int]:
    """This process and all its live descendants (the Spark JVM and its
    Python workers)."""
    children: dict[int, list[int]] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree, reaped children
    included. Unlike wall time it excludes time the host steals."""
    ticks = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak RSS (VmHWM)."""
    kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat. The
    steal share during a run explains runs slowed by a busy host."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def check_tree() -> None:
    """Fail fast when the checkout lacks the program under test."""
    needed = ["nama_spark/__init__.py", "jobs/run_pipeline.py",
              "jobs/run_corpus_pipeline.py", "fixtures/make_fixtures.py",
              "tests/oracle_tokensim.py"]
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: not a nama_spark checkout, missing {missing}")


def setup_env() -> None:
    """Keep every file Spark and Python write inside the work dir, and make
    ``nama_spark`` importable on the Python workers."""
    shutil.rmtree(os.path.join(WORK, "eventlog"), ignore_errors=True)
    for sub in ("spark-local", "tmp", "eventlog", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, os.path.join(ROOT, "jobs")]
        + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


def start_spark(cores: int, trace: bool):
    from nama_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(WORK, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def benchmark(args) -> dict:
    setup_env()
    cores = args.cores or nproc()
    info = {"workload": args.workload, "seed": args.seed, "nproc": nproc(),
            "cores": cores, "loadavg": os.getloadavg()}
    wl = WORKLOADS[args.workload](WORK, args.seed)
    # inputs and reference answers are made while the JVM starts
    pool = ThreadPoolExecutor(1)
    prep = pool.submit(lambda: (wl.prepare(), wl.reference()))
    spark = start_spark(cores, bool(args.trace))
    pool.shutdown()
    try:
        prep.result()
        outcomes = []  # one per attempted run: its checked output, or None

        def attempt(run, output=None) -> tuple[float, float]:
            """Run one job and check its output; returns its (wall, CPU)
            seconds. A raise or a failed check counts as a failed run."""
            t0, c0 = time.perf_counter(), tree_cpu_s()
            try:
                summary, error = run(), None
            except Exception as e:  # noqa: BLE001 - every failure is counted
                summary, error = None, e
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
            try:
                if error:
                    raise error
                result = wl.check(summary, output)
                if outcomes and outcomes[0] is not None and result != outcomes[0]:
                    raise CheckFailed("output differs from the first run")
            except Exception:  # noqa: BLE001
                print("perfbench: run failed", file=sys.stderr)
                traceback.print_exc()
                result = None
            outcomes.append(result)
            return wall, cpu

        # the cold run pays JIT and class loading once per session: set-up
        info["cold_s"] = attempt(wl.run)[0]
        setup_s = time.perf_counter() - T_START
        # warm runs for --seconds, and at least the workload's warm_runs
        # (its measured work per process); the traced mode makes one, the
        # untraced baseline of the replay
        tracker = spark.sparkContext.statusTracker()
        walls, cpus, jobs = [], [], []
        min_runs = 1 if args.trace else wl.warm_runs
        st0, t_window = host_steal(), time.perf_counter()
        while len(walls) < min_runs or (
                not args.trace and time.perf_counter() - t_window < args.seconds):
            jobs0 = len(tracker.getJobIdsForGroup())
            wall, cpu = attempt(wl.run)
            walls.append(wall)
            cpus.append(cpu)
            jobs.append(len(tracker.getJobIdsForGroup()) - jobs0)
        st1 = host_steal()
        wall_s = statistics.median(walls)
        info.update(records=wl.n_records, steal=(st1[0] - st0[0]) / (st1[1] - st0[1]),
                    walls=walls, cpus=cpus, jobs=jobs)
        if args.trace:
            tr = traced(spark, wl, wall_s, attempt)
        else:
            metrics = {
                "wall_s": {"value": wall_s, "unit": "s"},
                "records_per_s": {"value": wl.n_records / wall_s, "unit": "1/s"},
                "setup_s": {"value": setup_s, "unit": "s"},
                "cpu_s": {"value": statistics.median(cpus), "unit": "s"},
                "peak_rss_mb": {"value": tree_peak_rss_mb(), "unit": "MB"},
                "quality": {"value": wl.last_quality, "unit": "share"},
            }
    finally:
        stop_spark(spark)
    if args.trace:
        metrics = trace_metrics(tr)
    failed = sum(r is None for r in outcomes)
    print(json.dumps({"info": info}))
    return {"correct": failed == 0, "attempted": len(outcomes), "failed": failed,
            "metrics": metrics}


def traced(spark, wl, untraced_wall, attempt):
    """Replay the job layer by layer under job groups. The replay is one
    more attempted run: its output must equal the untraced runs'."""
    from perfbench import layers

    tr = layers.Tracer(spark)
    out = wl.output + "_traced"
    replay = layers.run_er_layers if wl.job == "run_pipeline" else layers.run_corpus_layers

    def run():
        shutil.rmtree(out, ignore_errors=True)
        return replay(spark, tr, wl.argv(out))

    attempt(run, out)
    traced_total = sum(w for name, w in tr.walls.items() if name != "trace.aux")
    tr.extras["trace.overhead_s"] = traced_total - untraced_wall
    return tr


def trace_metrics(tr) -> dict:
    """Per-layer metrics: the tracer's clocks and counts joined with the
    task metrics of the (now closed) event log."""
    from perfbench import eventlog

    logdir = os.path.join(WORK, "eventlog")
    groups = {}
    for name in os.listdir(logdir):
        with open(os.path.join(logdir, name)) as f:
            groups.update(eventlog.parse_event_log(f))
    return eventlog.layer_metrics(groups, tr.walls, tr.rows, tr.extras)


def scaling(args) -> dict:
    """er wall at local[1] vs local[nproc], each in its own process."""
    n = nproc()
    walls = {}
    for cores in (1, n):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", "er",
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", "0", "--cores", str(cores)],
            cwd=ROOT, check=True, capture_output=True, text=True, timeout=600,
        ).stdout.strip().splitlines()[-1]
        walls[cores] = json.loads(out)["metrics"]["wall_s"]["value"]
    return {"wall_1_s": walls[1], f"wall_{n}_s": walls[n],
            "scaling_eff": walls[1] / walls[n] / n}


def main(argv=None) -> int:
    args = parse_args(argv)
    check_tree()
    result = scaling(args) if args.scaling else benchmark(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
