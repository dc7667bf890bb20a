#!/usr/bin/env python3
"""KG-construction benchmark: one workload, one seed, one result line.

    python3 kgbench/run.py --workload crawl_clean --seed 1 --seconds 10 --trace 0

Runs the workload through the public pipeline API on ``local[<cores>]``
and prints, as the last stdout line, ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics of a traced run with ``--trace 1``.  See METHOD.md.
"""

from __future__ import annotations

import os
import time

# set-up is timed from the start of the supervising process (CLOCK_MONOTONIC
# is shared by all processes of the machine)
T_PROCESS = float(os.environ.get("KGBENCH_T0") or time.monotonic())

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_clean", "crawl_ambiguous", "recrawl_update")
MIN_UNITS = 3  # timed passes or epochs per session, whatever --seconds says
MIN_TRACED = 2  # plain and traced units each, in a traced run
SCALING_WORKLOAD = "crawl_clean"  # the one workload weak_scaling_1v4 is defined on
SCALING_CORES = 1
SCALING_DIV = 4  # the local[1] side runs a quarter of the pages
SIDE_TIMEOUT_S = 120
REAP_TERM_S = 10  # grace after SIGTERM before leftover processes get SIGKILL
PR_SET_CHILD_SUBREAPER = 36


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def _filesystem(path: str) -> str:
    """Filesystem type and mount point holding ``path``."""
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            mnt, kind = line.split()[1:3]
            inside = path == mnt or path.startswith(mnt.rstrip("/") + "/")
            if inside and len(mnt) > len(best):
                best, fstype = mnt, kind
    return f"{fstype} at {best}"


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def _median(xs):
    xs = [x for x in xs if x == x]  # failed units carry NaN
    return statistics.median(xs) if xs else float("nan")


def start_spark(cores: int, work: str):
    from pyspark.sql import SparkSession

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # inherited by the JVM and Python workers
    mem_mb = min(4096, _mem_total_mb() // 4)  # leaves the box most of its memory
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("kgbench")
        .config("spark.driver.memory", f"{mem_mb}m")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # ParallelGC with a fixed young generation: peak RSS follows what
        # the program retains, not the collector's adaptive sizing.
        # Tenfold lower JIT thresholds: the code reaches its compiled
        # steady state within the warm-up, not halfway through the
        # timed units
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:+UseParallelGC -Xmn512m "
                "-XX:CompileThresholdScaling=0.1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its gateway JVM to exit.  ``spark.stop()``
    alone leaves the JVM running until it reads end of input on stdin,
    which happens only after this process has gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def run_units(wl, seconds: float, tracer=None) -> tuple[list, list]:
    """Timed units for ``seconds`` and at least MIN_UNITS (MIN_TRACED
    of each kind in a traced run) -> (plain, traced).  A traced run
    interleaves plain and traced units, so both sides of the overhead
    figure come from equally warm units."""
    least = MIN_TRACED if tracer else MIN_UNITS
    plain, traced = [], []
    t0 = time.monotonic()
    while (
        time.monotonic() - t0 < seconds
        or len(plain) < least
        or (tracer and len(traced) < least)
    ):
        if tracer and wl.shape.kind == "update":
            units = wl.step(tracer)  # traces every second epoch
        else:
            units = wl.step() + (wl.step(tracer) if tracer else [])
        plain += [u for u in units if not u.traced]
        traced += [u for u in units if u.traced]
    return plain, traced


def summarize(units: list) -> dict:
    return {
        "unit_s": _median([u.seconds for u in units]),
        "pages_per_s": _median([u.pages / u.seconds for u in units]),
        "workdir_mb": _median(
            [u.workdir_bytes / 2**20 for u in units if u.workdir_bytes]
        ),
        "attempted": len(units),
        "failed": sum(not u.ok for u in units),
    }


def measure(args, work: str) -> tuple[dict, int, int]:
    """Set up, warm up and time the workload on local[<cores>] ->
    (metrics as {name: (value, unit)}, units attempted, units failed)."""
    from kgbench.workloads import Workload

    cores = os.cpu_count() or 1
    spark = start_spark(cores, work)
    print(f"set-up: Spark up {time.monotonic() - T_PROCESS:.1f} s after start", flush=True)
    try:
        wl = Workload(args.workload, args.seed, os.path.join(work, "main"),
                      cores=cores)
        print(wl.describe(), flush=True)
        wl.prepare(spark)
        t0 = time.monotonic()
        wl.warm_up()
        setup_s = time.monotonic() - T_PROCESS
        print(f"set-up: warm-up {setup_s - (t0 - T_PROCESS):.1f} s", flush=True)
        print(f"workdir filesystem: {_filesystem(work)}", flush=True)
        tracer = None
        if args.trace:
            from kgbench.trace import Tracer

            tracer = Tracer(spark, os.path.join(
                ROOT, ".kgbench", "traces", f"{args.workload}-s{args.seed}.jsonl"
            ))
        steal0, total0 = _cpu_ticks()
        plain, traced = run_units(wl, args.seconds, tracer)
        steal1, total1 = _cpu_ticks()
        # time the hypervisor gave to other guests: the host's load, which
        # no setting here controls, shows up in every timing
        print(f"host steal during timed units: "
              f"{(steal1 - steal0) / max(total1 - total0, 1):.1%}", flush=True)
        extra = []
        if tracer and wl.shape.kind == "crawl" and not wl.shape.write_turtle:
            extra.append(wl.turtle_pass(tracer))  # covers operators.serialize
        wl.build_reference()
        wl.check(plain + traced)
        local = summarize(plain)
        per = "epoch" if wl.shape.kind == "update" else "pass"
        print(f"local[{cores}]: {len(plain)} timed {per} units: "
              + " ".join(f"{u.seconds:.3f}" for u in plain) + " s", flush=True)
        if not tracer:
            peak_rss = _hwm_mb(os.getpid()) + _hwm_mb(
                spark._jvm.java.lang.ProcessHandle.current().pid()
            )
            return {
                "pages_per_s": (local["pages_per_s"], "pages/s"),
                "epoch_s": (local["unit_s"], "s"),
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (peak_rss, "MB"),
                "workdir_mb": (local["workdir_mb"], "MB"),
            }, local["attempted"], local["failed"]
        values = tracer.report(plain, traced)
        side = None
        if args.workload == SCALING_WORKLOAD:
            # weak_scaling_1v4: the same workload at a quarter of the pages
            # on local[1], in its own JVM; its inputs are written here
            side = Workload(args.workload, args.seed, os.path.join(work, "scaling"),
                            scale=SCALING_DIV, cores=SCALING_CORES)
            side.prepare(spark)
    finally:
        stop_spark(spark)
    units = plain + traced + extra
    attempted, failed = len(units), sum(not u.ok for u in units)
    # like the metrics of a layer that never ran, these read 0 elsewhere
    values["weak_scaling_1v4"] = (0.0, "ratio")
    values["weak_scaling.local1_unit_s"] = (0.0, "s")
    if side is not None:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--side", side.work],
            stdout=subprocess.PIPE, text=True, timeout=SIDE_TIMEOUT_S,
        )
        lines = proc.stdout.splitlines()
        for line in lines[:-1]:
            print(f"local[{SCALING_CORES}]: {line}", flush=True)
        if proc.returncode != 0 or not lines:
            raise RuntimeError(f"local[{SCALING_CORES}] side exited with {proc.returncode}")
        remote = json.loads(lines[-1])
        attempted += remote["attempted"]
        failed += remote["failed"]
        values["weak_scaling_1v4"] = (remote["unit_s"] / local["unit_s"], "ratio")
        values["weak_scaling.local1_unit_s"] = (remote["unit_s"], "s")
    values["failed_frac"] = (failed / attempted, "fraction")
    return values, attempted, failed


def run_side(args) -> int:
    """The local[1] side of weak_scaling_1v4 over inputs written by the
    main process: warm up, time MIN_UNITS units, print a summary."""
    from kgbench.workloads import Workload

    spark = start_spark(SCALING_CORES, args.side)
    try:
        wl = Workload(args.workload, args.seed, args.side,
                      scale=SCALING_DIV, cores=SCALING_CORES)
        wl.attach(spark)
        wl.warm_up()
        units, _ = run_units(wl, 0)
        wl.check(units)
        print(f"{len(units)} timed units: "
              + " ".join(f"{u.seconds:.3f}" for u in units) + " s", flush=True)
        print(json.dumps(summarize(units)), flush=True)
    finally:
        stop_spark(spark)
    return 0


def _processes() -> dict:
    """{pid: (ppid, pgid, state)} of every live process, from /proc."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # ended while listing
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        procs[int(name)] = (int(fields[1]), int(fields[2]), fields[0])
    return procs


def _reap(pgid: int) -> None:
    """Stop and wait for every process left by the benchmark: members of
    its process group, and children of this process (orphans come here
    when it is a subreaper).  SIGTERM first, SIGKILL after REAP_TERM_S."""
    me = os.getpid()
    t0 = time.monotonic()
    sig = signal.SIGTERM
    while True:
        while True:  # collect children that have ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = [pid for pid, (ppid, group, state) in _processes().items()
                if pid != me and state not in "ZX" and (ppid == me or group == pgid)]
        if not left:
            return
        if time.monotonic() - t0 > REAP_TERM_S:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def supervise(argv: list) -> int:
    """Run the benchmark in a child process with a session of its own,
    then stop and wait for everything it started, on every way out."""
    try:  # orphaned descendants are re-parented here, so they can be reaped
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # members of the child's process group are still reaped

    def _terminate(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, _terminate)
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv],
        env={**os.environ, "KGBENCH_T0": repr(T_PROCESS)},
        start_new_session=True,
    )
    try:
        return child.wait()
    finally:
        _reap(child.pid)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--side", help=argparse.SUPPRESS)  # local[1] side's inputs
    args = p.parse_args(argv)
    raw = sys.argv[1:] if argv is None else list(argv)

    if not os.path.isfile(os.path.join(ROOT, "mhdb_tables2turtles_spark", "__init__.py")):
        print(f"kgbench: no mhdb_tables2turtles_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    if args.side:
        return run_side(args)
    if "KGBENCH_T0" not in os.environ:
        return supervise(raw)

    work = os.path.join(ROOT, ".kgbench", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    try:
        values, attempted, failed = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    for name, m in metrics.items():
        print(f"{name}: {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
