"""Run context shared by the workloads.

One process, one Spark session, one closed-loop client: each operation
starts only after the previous one returned. :class:`Bench` owns the
session, runs every operation inside a try block (a failure is counted
and the run goes on), and records per-operation wall times. In a traced
run it also tags every operation's Spark jobs with
``setJobGroup(op_id)`` and lets the :class:`~perfbench.trace.Tracer`
record the operation's spans.
"""

from __future__ import annotations

import math
import os
import resource
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from typing import Any, Callable

from perfbench.trace import Tracer


@dataclass
class Op:
    op_id: str
    name: str  # "<kind>:<target>", e.g. "commit:events", "query:tpch_q3"
    phase: str  # "setup", "loop" or "finish"
    seconds: float
    cpu_s: float
    ok: bool

    @property
    def kind(self) -> str:
        return self.name.split(":", 1)[0]


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Bench:
    def __init__(self, work: str, seed: int, seconds: int, trace: bool):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer()
        self.ops: list[Op] = []
        self.phase = "setup"
        self.spark: Any = None
        self.boot_s = 0.0
        self.event_log_dir = os.path.join(work, "eventlog")
        # op_id -> Catalyst phase name -> seconds, for traced actions
        self.catalyst: dict[str, dict[str, float]] = {}

    # -- session -------------------------------------------------------

    def start_spark(self) -> None:
        from kamu_cli_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # keep the JVM's scratch files inside the run's directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.trace:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_log_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.boot_s = time.perf_counter() - t0

    def jvm_hwm_mb(self) -> float:
        """Peak resident set of the driver JVM (VmHWM), in MB."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            return 0.0
        with open(f"/proc/{proc.pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the driver JVM's
        threads other than its JIT compilers, and the JVM's children
        (the Python worker daemon and its workers). JIT compilation is
        left out: how much of it lands inside a run varies from run to
        run while the JVM warms up."""
        from pyspark import SparkContext

        t = time.process_time()
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            return t
        tick = os.sysconf("SC_CLK_TCK")
        todo, jvm = [proc.pid], True
        while todo:
            pid = todo.pop()
            try:
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/stat", encoding="ascii") as f:
                        head, rest = f.read().rsplit(")", 1)
                    if jvm and "Compiler" in head.split("(", 1)[1]:
                        continue
                    fields = rest.split()
                    # utime and stime are fields 14 and 15 of stat(5)
                    t += (int(fields[11]) + int(fields[12])) / tick
                    with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as f:
                        todo += [int(c) for c in f.read().split()]
            except (FileNotFoundError, ProcessLookupError):
                pass  # exited meanwhile
            jvm = False
        return t

    @staticmethod
    def python_maxrss_mb() -> float:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

    def stop_spark(self) -> None:
        """Stop the session and wait for the driver JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- operations ----------------------------------------------------

    def op(self, name: str, fn: Callable[[], Any]) -> Any:
        """Run one operation; returns its result, or None if it failed."""
        op_id = f"op{len(self.ops):05d}"
        if self.trace:
            self.spark.sparkContext.setJobGroup(op_id, name)
            self.tracer.op_id = op_id
            # set-up ops fire jobs but are not measured
            self.tracer.enabled = self.phase != "setup"
        ok, result = True, None
        cpu0 = self.cpu_s()
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:
            ok = False
            print(f"op {op_id} ({name}) failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t0
        cpu = self.cpu_s() - cpu0
        self.tracer.enabled = False
        self.ops.append(Op(op_id, name, self.phase, dt, cpu, ok))
        return result

    def timed(self, *phases: str) -> list[Op]:
        return [o for o in self.ops if o.phase in phases]
