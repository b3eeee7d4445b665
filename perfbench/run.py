"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload cdp_daily --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
(``gen.py``), builds one Spark session sized from the host
(``local[nproc]``, heap from ``/proc/meminfo``), builds the workload's
one-time state, and then times one fixed operation: the first day or round
after setup. Its time stands for ``op_s_p50``; at about 20 s an
operation outlasts ``--seconds``, and a fixed operation keeps a faster
commit from timing more, later operations than a slower one. The set-up
warms the paths it shares with an operation (sales ETL, MERGE, the views
of a full gold build), but the operation is the first call of the rest, so
it includes their one-time cost: the budget of a run leaves no room for an
untimed warm-up operation. Times are unstolen seconds (``unstolen``), so
that a neighbour's load on a shared host does not read as a change in the
program. Each operation's outputs are checked after it,
outside its wall time, and the run's outputs at the end; any failed check
makes the run exit non-zero.

``--trace 0`` reports the end-to-end metrics (``END_TO_END``). ``--trace
1`` runs a warm-up operation, then the next one traced, with layer spans,
job groups, ``observe`` counts and the Spark event log, and then an
untraced reference operation. It reports the per-layer metrics
(``spans.PER_LAYER``) of the traced operation, among them the tracing
overhead (traced minus reference time, two warm operations on
consecutive days of equal size) and the share of the traced operation that
no layer span covers.

Everything the run writes stays under ``.perfbench_run/`` in the
repository root; the run record (config, phase and operation times,
metrics, check problems) is left there as
``<workload>-seed<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: every end-to-end metric: (unit, better). Times are unstolen seconds
#: (``unstolen``).
END_TO_END = {
    "op_s_p50": ("s", "lower"),
    "rows_per_s": ("rows/s", "higher"),
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "write_amp": ("ratio", "lower"),
}
#: tuning knobs the package reads from the environment; the benchmark runs
#: their defaults and records them
KNOBS = ("SPARK_GRAFT_SCRUB_PIN", "SPARK_GRAFT_VERIFY_KEY", "SPARK_GRAFT_CC_PROP",
         "SPARK_GRAFT_DRIFT_PIN", "SPARK_GRAFT_SHARE_MARKED", "SPARK_GRAFT_LINE_INC_PIN",
         "SPARK_GRAFT_FAN_OUT", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_MASTER")


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_heap() -> str:
    """A sixteenth of physical memory, 1-4 GiB: the engine's own 48g
    default gets the JVM killed on small hosts, the workloads' data is
    small, and a heap that fills keeps peak RSS from following the
    collector's growth decisions."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    mib = min(max(kib // 16 // 1024, 1024), 4096)
    return f"{mib}m"


def cpu_ticks() -> tuple[int, int]:
    """Machine-wide (busy, stolen) CPU ticks from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        user, nice, system, _, _, irq, softirq, steal = map(int, fh.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def stolen_share(ticks0: tuple[int, int]) -> float:
    """Share of the CPU time this VM demanded since ``ticks0`` that the
    hypervisor gave to a neighbour (0 on an unshared host)."""
    busy, steal = (b - a for a, b in zip(ticks0, cpu_ticks()))
    return steal / (busy + steal) if busy + steal else 0.0


def unstolen(wall_s: float, stolen: float) -> float:
    """Wall time less its stolen share: for CPU-bound work, the time the
    interval would take on unshared CPUs.

    On a shared 4-core VM, steal of 0-26% made the raw wall time of the
    same cdp_daily operation spread 0.29 (IQR / median, ten seeds); the same
    runs corrected spread 0.13. Raw wall times stay in the run record.
    """
    return wall_s * (1.0 - stolen)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its live
    descendants (the JVM and its Python workers), reaped children
    included."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        pid = int(name)
        kids.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(f) for f in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            return next(int(line.split()[1]) for line in fh if line.startswith("VmRSS:"))
    except (FileNotFoundError, StopIteration):
        return 0


class RssSampler(threading.Thread):
    """Peak of JVM + Python driver resident memory, sampled from /proc."""

    def __init__(self, pids: list[int], period_s: float = 0.05):
        super().__init__(daemon=True)
        self.pids, self.period_s = pids, period_s
        self.peak_kib = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kib = max(self.peak_kib, sum(rss_kib(p) for p in self.pids))
            self._stop_evt.wait(self.period_s)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kib / 1024.0


def code_identity() -> dict:
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except OSError:
        sha = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "automotive_data_pipeline_demo_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return {"git_sha": sha, "package_sha256": h.hexdigest()}


def shutdown(spark) -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def parse_args(argv: list[str], workloads: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


class Op(NamedTuple):
    """One operation: wall-clock span, input rows and bytes, and the share of
    the machine's demanded CPU time the hypervisor stole meanwhile."""

    start: float
    end: float
    rows: int
    nbytes: int
    stolen: float
    failed: bool
    cpu_s: float

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def seconds(self) -> float:
        return unstolen(self.wall_s, self.stolen)


def run_op(wl, i: int, tracer=None) -> Op:
    """Run operation ``i`` and check its outputs (outside its wall time).

    A failed operation is counted, its traceback printed, and the run goes
    on; its traced bookkeeping is skipped, as its outputs are incomplete.
    """
    wl.prepare(i)
    if tracer is not None:
        tracer.op_id = i
    ticks0, c0, w0, t0 = cpu_ticks(), tree_cpu_s(), time.time(), time.perf_counter()
    try:
        wl.op(i)
        failed = False
    except Exception:  # noqa: BLE001 - a failed op is counted, not hidden
        traceback.print_exc()
        failed = True
    wall, stolen, cpu = time.perf_counter() - t0, stolen_share(ticks0), tree_cpu_s() - c0
    wl.verify_op(i)
    if tracer is not None and not failed:
        wl.after_op(i)
    return Op(w0, w0 + wall, *wl.size(i), stolen, failed, cpu)


def main(argv: list[str]) -> int:
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    # fails here, before any work, outside a checkout of the program
    from automotive_data_pipeline_demo_spark.session import get_spark

    import gen
    from spans import PER_LAYER, Tracer, fs_bytes_written
    from workloads import WORKLOADS

    args = parse_args(argv, sorted(WORKLOADS))

    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    for k in KNOBS:
        os.environ.pop(k, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host_heap()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])

    phases = {"import_s": time.perf_counter() - t_start}
    t0 = time.perf_counter()
    inputs = gen.WRITERS[args.workload](f"{work}/inputs", args.seed)
    phases["gen_s"] = time.perf_counter() - t0

    conf = {
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # no hsperfdata files under /tmp: the run writes only inside the
        # checkout. The heap is committed and touched at start, so peak RSS
        # does not follow the collector's run-to-run heap growth decisions.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"),
        "spark.ui.showConsoleProgress": "false",
        # a drain runs exactly one micro-batch: the extra batch a watermark
        # advance starts would run inside or after the timed operation, at
        # random
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
        # idle queries list their sources every pollingDelay: at the 10 ms
        # default the four stream_ingest queries kept a core of four busy
        # between their micro-batches; at 100 ms, a third of one
        "spark.sql.streaming.pollingDelay": "100ms",
    }
    log_dir = None
    if args.trace:
        log_dir = f"{work}/eventlog"
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    t0, ticks0 = time.perf_counter(), cpu_ticks()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    phases["session_s"] = time.perf_counter() - t0
    try:
        shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        sampler = RssSampler([jvm_pid, os.getpid()])
        sampler.start()

        tracer = Tracer(spark, log_dir)
        wl = WORKLOADS[args.workload](spark, tracer, inputs, work)
        t0 = time.perf_counter()
        wl.setup(f"{work}/state")
        phases["setup_s"] = time.perf_counter() - t0
        setup_stolen = stolen_share(ticks0)

        ops: dict[str, Op] = {}
        if args.trace:
            # a warm-up operation, then the traced one and an untraced
            # reference one on the next day or round
            ops["warmup"] = run_op(wl, 0)
            tracer.enabled = True
            ops["traced"] = run_op(wl, 1, tracer)
            tracer.enabled = False
            ops["reference"] = run_op(wl, 2)
        else:
            b0 = fs_bytes_written(spark)
            ops["timed"] = run_op(wl, 0)
            written = fs_bytes_written(spark) - b0
        peak_mb = sampler.stop()
        t0 = time.perf_counter()
        problems = wl.check()
        wl.teardown()
        workload_record = wl.record()
        phases["check_s"] = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        shutdown(spark)
        phases["shutdown_s"] = time.perf_counter() - t0

    if args.trace:
        traced = ops["traced"]
        metrics = tracer.layer_metrics([(traced.start, traced.end)])
        metrics["trace.overhead_s"] = traced.seconds - ops["reference"].seconds
        units = {k: unit for k, (unit, _) in PER_LAYER.items()}
        tracer.write(f"{work}/spans.jsonl")
    else:
        timed = ops["timed"]
        metrics = {
            "op_s_p50": timed.seconds,
            "rows_per_s": timed.rows / timed.seconds,
            "setup_s": unstolen(phases["session_s"] + phases["setup_s"], setup_stolen),
            "peak_rss_mb": peak_mb,
            "write_amp": written / timed.nbytes,
        }
        units = {k: unit for k, (unit, _) in END_TO_END.items()}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "config": {
            "cores": host_cores(),
            "shuffle_partitions": shuffle_partitions,
            "heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "knobs": {k: os.environ.get(k)
                      for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", *KNOBS)},
            "pyspark": __import__("pyspark").__version__,
            "sizes": gen.SIZES[args.workload],
            **code_identity(),
        },
        "ops": {k: {**o._asdict(), "wall_s": o.wall_s, "unstolen_s": o.seconds}
                for k, o in ops.items()},
        "setup_stolen": setup_stolen,
        "peak_rss_mb": peak_mb, "phases_s": phases,
        "problems": problems,
        "metrics": metrics,
        **workload_record,
    }
    with open(f"{work}.json", "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    result = {
        "correct": not problems,
        "attempted": len(ops),
        "failed": sum(o.failed for o in ops.values()),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
