"""Layered reverse-geocode benchmark.

    python3 perfbench/run.py --workload crawl_mixed --seed 0 --seconds 7 --trace 0

Runs one workload in this driver process at ``local[nproc]`` and prints, as
the last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the metrics
are the end-to-end ones, measured with no tracing; with ``--trace 1`` they
are the per-layer ones (see ``layers.py``).

Every workload is a closed loop: one pass at a time, the next starting when
the previous one has ended, for ``--seconds`` seconds.  Each pass is checked
against a Spark-free reference outside its timed window; a pass that raises
or fails its check counts in ``failed`` and the run goes on.

All scratch files (inputs, Spark local dirs, event logs, spans) stay under
``perfbench/.work`` in the checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
#: session set-ups per run; setup_s is their median
SETUPS = 2
#: timed passes per run even when the first outlasts --seconds (a
#: photos_tw8k pass does); the spread between runs comes from the host, not
#: from how many passes a run's median takes
MIN_PASSES = 1
#: driver JVM heap; fixed and pre-touched, so the JVM's share of
#: peak_rss_mb does not depend on how far G1 happened to grow the heap
DRIVER_MEM = "2g"


def log(*parts) -> None:
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


def configure_environment() -> None:
    """Point every file Spark, the JVM and Python write into WORK, size the
    session for this host and keep the console quiet.  The event log starts
    off; the traced run turns it on for its traced session only.  Must run
    before pyspark starts its JVM."""
    tmp = WORK / "tmp"
    for d in (tmp, WORK / "eventlog"):
        d.mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"{jvm_opts} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # one plain JSON file per session, parsed by layers.parse_event_log
        "spark.eventLog.enabled": "false",
        "spark.eventLog.dir": f"file:{WORK / 'eventlog'}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(WORK / "local"),
        "JAVA_TOOL_OPTIONS": jvm_opts,
        "PYSPARK_SUBMIT_ARGS": f"{args} pyspark-shell",
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT), str(HERE), os.environ.get("PYTHONPATH", "")]),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    for p in (ROOT, HERE):
        if str(p) not in sys.path:
            sys.path.insert(0, str(p))


def start_session():
    from immich_geodata_zh_tw_spark.session import get_spark

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark(app_name="perfbench", parallelism=cores,
                      shuffle_partitions=max(cores, 8))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class PeakRss:
    """Peak RSS over a window of this driver, its JVM and the ``cores``
    largest Python workers — in ``local[cores]`` at most that many Python
    tasks run at once; how many idle workers the daemons keep forked varies
    from run to run and is left out.  Each process's kernel high-water mark
    (VmHWM) is reset on entry and read on exit, so no peak falls between
    samples."""

    def __init__(self, cores: int):
        self.cores = cores
        self.parts_mb: dict[str, float] = {}

    @staticmethod
    def tree(root: int | None = None) -> list[int]:
        """``root`` (default: this process) and all its descendants,
        parents first."""
        children: dict[int, list[int]] = {}
        for entry in os.scandir("/proc"):
            if entry.name.isdigit():
                try:
                    with open(f"/proc/{entry.name}/stat") as fh:
                        ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
                children.setdefault(ppid, []).append(int(entry.name))
        out = [os.getpid() if root is None else root]
        for pid in out:
            out.extend(children.get(pid, []))
        return out

    def __enter__(self):
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass  # the process ended
        return self

    def __exit__(self, *exc):
        kb_of = {"driver": 0, "jvm": 0}
        python_kb = []
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    status = fh.read()
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    exe = fh.read().split(b"\0", 1)[0]
            except OSError:
                continue  # the process ended
            if "VmHWM:" not in status:
                continue  # it ended and awaits its parent (a zombie)
            kb = int(status.split("VmHWM:", 1)[1].split()[0])
            if pid == os.getpid():
                kb_of["driver"] += kb
            elif exe.endswith(b"java"):
                kb_of["jvm"] += kb
            else:
                python_kb.append(kb)
        kb_of["python_workers"] = sum(sorted(python_kb)[-self.cores:])
        self.parts_mb = {k: v / 1024 for k, v in kb_of.items()}

    @property
    def mb(self) -> float:
        return sum(self.parts_mb.values())


def stop_jvm(timeout: float = 30.0) -> None:
    """Close the JVM that pyspark launched and wait until it and the Python
    workers it forked have exited (the JVM exits when its stdin closes, its
    worker daemons when the JVM goes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    jvm_tree = PeakRss.tree(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout)
    deadline = time.perf_counter() + timeout
    while (any(os.path.exists(f"/proc/{pid}") for pid in jvm_tree)
           and time.perf_counter() < deadline):
        time.sleep(0.1)


def stop_children(timeout: float = 30.0) -> None:
    """Make sure no process this run started outlives it: ask every
    descendant still running to end (SIGTERM, then SIGKILL at the
    timeout) and wait until each has gone."""
    from workloads import stop_resource_tracker

    stop_resource_tracker()
    deadline = time.perf_counter() + timeout
    sig = signal.SIGTERM
    while rest := PeakRss.tree()[1:]:
        log("stopping leftover processes", rest)
        if time.perf_counter() > deadline:
            sig = signal.SIGKILL
        for pid in rest:
            try:
                os.kill(pid, sig)
            except OSError:
                pass  # it ended
        for pid in rest:
            try:
                os.waitpid(pid, os.WNOHANG)  # reap our own children
            except ChildProcessError:
                pass  # not ours; its parent or init reaps it
        time.sleep(0.1)


class Tally:
    """Passes attempted and failed, with the reason for each failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, label: str, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            log(f"{label} FAILED:", "; ".join(errors[:5]))


def run_pass(tally: Tally, label: str, body):
    """Run and check one pass; ``body`` returns (result, errors), the result
    usually being the pass's seconds.  Returns the result, or None when the
    pass raised.  A pass whose output fails its check still ran to the end,
    so its result is kept; it counts as failed, and the run reports
    ``correct: false``."""
    try:
        result, errors = body()
    except Exception:  # a failed pass must not stop the run
        log(f"{label} raised:\n{traceback.format_exc()}")
        tally.record(label, ["raised"])
        return None
    tally.record(label, errors)
    return result


def measure(args, runner, tally: Tally) -> dict:
    """Set-up (SETUPS sessions, each ended by a warm-up pass), then timed
    passes for ``args.seconds``.  Returns the end-to-end metrics.

    The first set-up runs from process start, less the input generation and
    the reference computation; the others restart the session in the same
    JVM."""
    gen_s, untimed = runner.prepare()
    setups, starts = [], []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = T_PROCESS + untimed if i == 0 else time.perf_counter()
        spark = start_session()
        starts.append(time.perf_counter() - t0)
        if run_pass(tally, f"warm-up {i}",
                    lambda: runner.timed_pass(spark)) is None:
            raise RuntimeError("warm-up pass raised")
        setups.append(time.perf_counter() - t0)
    log("setup_s", [round(s, 3) for s in setups])

    walls = []
    deadline = time.perf_counter() + args.seconds
    with PeakRss(int(os.environ["SPARK_GRAFT_CPUS"])) as rss:
        while (time.perf_counter() < deadline
               or len(walls) < MIN_PASSES and tally.attempted < SETUPS + 10):
            wall = run_pass(tally, f"pass {len(walls)}",
                            lambda: runner.timed_pass(spark))
            if wall is not None:
                walls.append(wall)
    run_pass(tally, "sample check", lambda: (0.0, runner.sample_check()))
    spark.stop()
    if not walls:
        raise RuntimeError("every timed pass raised")
    wall = statistics.median(walls)
    log("passes", [round(w, 3) for w in walls])
    return {
        "wall_s": (wall, "s"),
        "pages_per_s": (runner.pages / wall, "pages/s"),
        "setup_s": (statistics.median(setups), "s"),
        "peak_rss_mb": (rss.mb, "MiB"),
        "_info": {"passes": len(walls), "input_gen_s": gen_s,
                  "prepare_s": untimed,
                  "peak_rss_parts_mb": rss.parts_mb,
                  "session_start_s": statistics.median(starts),
                  "walls": walls},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=None,
                    help="override the workload's page count (self-test)")
    ap.add_argument("--corrupt-reference", action="store_true",
                    help="check against a reference with one village swapped")
    args = ap.parse_args(argv)

    configure_environment()
    import workloads  # needs the package on sys.path
    from passes import Runner

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")
    runner = Runner(workloads.WORKLOADS[args.workload], args.seed, WORK,
                    pages=args.pages, corrupt=args.corrupt_reference)
    tally = Tally()
    try:
        if args.trace:
            import layers

            runner.prepare()
            metrics = layers.traced_run(args, runner, tally, run_pass,
                                        start_session, WORK)
        else:
            metrics = measure(args, runner, tally)
    finally:
        stop_jvm()
        stop_children()
    info = metrics.pop("_info", {})
    log("info", json.dumps(info, default=float))
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
