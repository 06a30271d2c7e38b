"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 12 --trace 0

Starts one local Spark session in this process, sets the workload up
(timed as ``setup_s``), then runs the workload's operation in a closed loop
for ``--seconds`` seconds and checks every output. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``; the per-layer metrics of the
traced run with ``--trace 1``). Everything it writes lives under
``.bench_work/`` in the checkout and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

CORES = 4
# every run measures at least this many operations, so that runs of one
# workload cover the same deliveries even when the state grows with each
MIN_OPS = 2
# session.py: "shuffle.partitions should be ~2-3x total executor cores and
# is expected to be overridden"
SHUFFLE_PARTITIONS = 2 * CORES
# the heap is fixed and pre-touched, so peak_rss_mb does not depend on when
# the JVM chose to grow it
DRIVER_MEMORY = "2g"
SETUP_REPEATS = 3
TICK = os.sysconf("SC_CLK_TCK")


def process_tree(root: int) -> tuple[list[int], float]:
    """The pids of ``root`` and all its live descendants (the JVM and the
    Python workers it forks), and the CPU seconds they have used, from /proc."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, float] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # exited while being read
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        # utime and stime, the 14th and 15th fields of stat
        cpu[pid] = (int(fields[11]) + int(fields[12])) / TICK
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree, sum(cpu.get(pid, 0.0) for pid in tree)


def proportional_rss(pids: list[int]) -> int:
    """Resident bytes of ``pids``, each page shared between processes split
    among them (PSS): a forked child does not count its parent's pages
    again."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError):
            continue  # exited while being read
    return total


class RssSampler(threading.Thread):
    """Peak resident memory of this process tree, sampled from /proc."""

    def __init__(self, interval: float = 1.0):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, proportional_rss(process_tree(os.getpid())[0]))
            self._stop_event.wait(self.interval)

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=10)


def start_spark(work: Path, event_log: Path | None):
    """A local session with the engine's own defaults, at ``CORES`` cores;
    temporary files stay under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(min(CORES, os.cpu_count() or CORES))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    from cda_client_spark.session import _DEFAULT_CONF, get_spark

    java_options = _DEFAULT_CONF["spark.driver.extraJavaOptions"]
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"{java_options} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app_name="cda-perfbench", conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):  # the JVM did not exit: make it
            proc.kill()
            proc.wait(timeout=30)


def written_since(root: Path, start_ns: int) -> int:
    """Bytes of files under ``root`` written at or after ``start_ns``."""
    total = 0
    for p in root.rglob("*"):
        try:
            st = p.stat()
        except OSError:
            continue
        if p.is_file() and st.st_mtime_ns >= start_ns:
            total += st.st_size
    return total


def measure(wl, seconds: float, tracer) -> list[dict]:
    """The closed loop: ``MIN_OPS`` operations, then more until ``seconds``
    have passed. With a tracer, even-numbered operations run with the span
    wrappers installed and odd-numbered ones without, so the wrappers'
    overhead is the difference of the two medians."""
    ops: list[dict] = []
    start = time.perf_counter()
    i = 0
    while i < MIN_OPS or time.perf_counter() - start < seconds:
        items, in_bytes = wl.prepare(i)
        traced = tracer is not None and i % 2 == 0
        if traced:
            wl.trace(tracer)
        start_ns = time.time_ns()
        cpu0 = process_tree(os.getpid())[1]
        t0 = time.perf_counter()
        errors: list[str] = []
        try:
            if traced:
                with tracer.operation(i):
                    result = wl.op(i)
            else:
                result = wl.op(i)
        except Exception:
            errors.append(traceback.format_exc())
            result = None
        latency = time.perf_counter() - t0
        cpu = process_tree(os.getpid())[1] - cpu0
        if traced:
            tracer.unpatch()
        written = written_since(wl.sink(i), start_ns)
        if result is not None:
            errors += wl.check(i, result)
        print(f"[{wl.name} op {i}] {latency:.3f} s, cpu {cpu:.3f} s, {len(errors)} errors", file=sys.stderr)
        for e in errors:
            print(f"[{wl.name} op {i}] {e}", file=sys.stderr)
        ops.append(
            dict(latency=latency, cpu=cpu, items=items, in_bytes=in_bytes, written=written,
                 traced=traced, failed=bool(errors))
        )
        i += 1
    return ops


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(ops: list[dict], setup_s: float, peak_rss: int) -> dict:
    lat = [o["latency"] for o in ops]
    return {
        "setup_s": metric(setup_s, "s"),
        "op_p50_s": metric(statistics.median(lat), "s"),
        "items_per_s": metric(sum(o["items"] for o in ops) / sum(lat), "1/s"),
        "write_amplification": metric(
            sum(o["written"] for o in ops) / sum(o["in_bytes"] for o in ops), "B/B"
        ),
        "peak_rss_mb": metric(peak_rss / 2**20, "MB"),
    }


def run(args) -> dict:
    from workloads import WORKLOADS

    root = Path.cwd()
    work = root / ".bench_work" / f"{args.workload}-{os.getpid()}"
    work.mkdir(parents=True)
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        # set-up: the session, the inputs (generated SETUP_REPEATS times,
        # median kept: the one step that can repeat inside one JVM), then
        # the standing state and the JIT warm-up
        t0 = time.perf_counter()
        event_log = work / "eventlog" if args.trace else None
        spark = start_spark(work, event_log)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work / "data", args.seed)
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.generate()
            gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        errors = wl.setup()
        state_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(gen_s) + state_s
        print(
            f"[{wl.name}] set-up: session {session_s:.2f} s, inputs "
            f"{statistics.median(gen_s):.2f} s, state and warm-up {state_s:.2f} s",
            file=sys.stderr,
        )
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark.sparkContext)
        ops = measure(wl, args.seconds, tracer)
        errors += wl.finish()
        layer_state = wl.layer_metrics()
        stop_spark(spark)
        spark = None
        sampler.stop()
        for e in errors:
            print(f"[{wl.name}] {e}", file=sys.stderr)
        failed = sum(o["failed"] for o in ops) + (1 if errors else 0)
        out = {"correct": failed == 0, "attempted": len(ops), "failed": failed}
        if args.trace:
            from layers import per_layer

            out["metrics"] = per_layer(tracer.spans, ops, event_log, layer_state)
        else:
            out["metrics"] = end_to_end(ops, setup_s, sampler.peak)
        return out
    finally:
        if spark is not None:
            stop_spark(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            (root / ".bench_work").rmdir()
        except OSError:
            pass  # another run is using it


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (Path.cwd() / "cda_client_spark" / "pipeline.py").is_file():
        print("run from the root of a cda_client_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(Path.cwd()))
    logging.basicConfig(level=logging.ERROR, stream=sys.stderr)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
