"""Lifecycle and registry benchmark for kamu_cli_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see ``workloads.py``): ``ingest_cdc_pull_query`` and
``registry_queries``. One process drives one
Spark session on ``local[$SPARK_GRAFT_CPUS]`` (default: every CPU this
process may use) as a single closed-loop client. A run generates its
inputs from the seed, sets up, runs whole cycles while the next one is
expected to end within ``--seconds``, runs the closing operations, and
checks every output. Scratch files live under ``.perfbench-work/`` in
the repository and are removed at exit.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones, each measured on the workload's own
operations (kinds: commit, pull, query, verify; see ``workloads.py``).
An operation's CPU time sums this process, the driver JVM (its JIT
compiler threads left out) and Spark's Python workers.

- ``setup_s``: wall time of session boot, plus the median of three
  input generations, plus the first commits and pulls or the
  registry's cold pass;
- ``op_cpu_s``: geometric mean over the workload's operation kinds of
  the kind's cost, which is the geometric mean over its targets (each
  dataset, derivative or query) of the target's median CPU seconds; a
  verify counts per slice, so runs that fit one more cycle stay
  comparable. Every kind weighs the same, however cheap its ops;
- ``cycle_cpu_s``: median CPU seconds of one cycle: a round of commits,
  pulls and queries, or a pass over the registry list. Every op weighs
  by its cost.

Wall-clock latencies (``op_p50_s`` and ``cycle_s``, defined like the two
above, and per-kind p50/p90 with sample counts) and peak memory are on
the report line only: on a shared 4-vCPU VM CPU steal moved them by a
third between runs of the same code, the CPU figures by a tenth.

With ``--trace 1`` the run first runs itself with ``--trace 0`` on the
same seed, then enables the Spark event log and layer spans, and the
metrics are the per-layer ones, including the tracing overhead (traced
minus untraced). The line before the last is a full report: the
environment, per-kind latencies with sample counts, the workload's own
figures and, when traced, every span and Spark counter per op kind.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
E2E_UNITS = {"setup_s": "s", "op_cpu_s": "s", "cycle_cpu_s": "s"}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Child processes (Spark's Python workers) must import the package
    and keep their scratch files inside the run directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def percentile(xs: list[float], p: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(xs)
    pos = (len(xs) - 1) * p / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def op_samples(b, w, field: str = "seconds") -> dict[str, list[float]]:
    """Wall (or CPU) times of the measured ops by name; a verify per
    slice."""
    out: dict[str, list[float]] = {}
    for o in b.timed("loop", "finish"):
        if o.ok:
            out.setdefault(o.name, []).append(getattr(o, field) / w.slices.get(o.name, 1))
    return out


def kind_latency(samples: dict[str, list[float]]) -> dict[str, float]:
    """Per kind: geometric mean over its targets of their median."""
    from perfbench.core import geomean

    by_kind: dict[str, list[float]] = {}
    for name, xs in samples.items():
        by_kind.setdefault(name.split(":", 1)[0], []).append(statistics.median(xs))
    return {k: geomean(v) for k, v in by_kind.items()}


def end_to_end(b, w, setup_s: float) -> dict[str, float]:
    from perfbench.core import geomean

    return {
        "setup_s": setup_s,
        "op_cpu_s": geomean(list(kind_latency(op_samples(b, w, "cpu_s")).values())),
        "cycle_cpu_s": statistics.median(w.cycle_cpu_s),
    }


def wall_clock(b, w) -> dict[str, float]:
    from perfbench.core import geomean

    return {
        "op_p50_s": geomean(list(kind_latency(op_samples(b, w)).values())),
        "cycle_s": statistics.median(w.cycle_s),
    }


def latency_report(b, w) -> dict[str, dict[str, float]]:
    """Per kind: wall-time median and p90, and CPU median, over every
    sample, with the count."""
    wall: dict[str, list[float]] = {}
    cpu: dict[str, list[float]] = {}
    for into, field in ((wall, "seconds"), (cpu, "cpu_s")):
        for name, xs in op_samples(b, w, field).items():
            into.setdefault(name.split(":", 1)[0], []).extend(xs)
    return {
        k: {
            "p50_s": percentile(xs, 50),
            "p90_s": percentile(xs, 90),
            "cpu_p50_s": percentile(cpu[k], 50),
            "samples": len(xs),
        }
        for k, xs in wall.items()
    }


def per_layer(b, w, e2e: dict, untraced: dict) -> tuple[dict[str, float], dict]:
    """Per-layer metrics for the final line, and the full breakdown."""
    from perfbench import layers
    from perfbench.trace import read_event_log

    measured = b.timed("loop", "finish")
    groups = read_event_log(b.event_log_dir)
    by_op: dict[str, dict[str, float]] = {}
    for g, d in groups.items():
        acc = by_op.setdefault(g.split(":")[0], {k: 0.0 for k in d})
        for k, v in d.items():
            acc[k] += v
    n_ops = {k: sum(1 for o in measured if o.kind == k) for k in layers.KINDS}
    by_kind = layers.summarize(b.tracer.spans, measured, groups)
    spark = layers.spark_per_kind(measured, by_op)
    queries = [o for o in measured if o.kind == "query"]
    n_q = max(len(queries), 1)

    metrics: dict[str, float] = {"session.boot_s": b.boot_s}
    metrics.update(layers.module_metrics(by_kind, b.tracer.counters, n_ops))
    metrics.update(w.workspace_stats())
    metrics["query.exec_s"] = sum(o.seconds for o in queries) / n_q - metrics["query.build_s"]
    for ph in ("analysis", "optimization", "planning"):
        metrics[f"catalyst.{ph}_s"] = (
            sum(b.catalyst.get(o.op_id, {}).get(ph, 0.0) for o in queries) / n_q
        )
    slices = sum(w.slices.values())
    metrics["verification.jobs_per_slice"] = (
        spark["verify"]["jobs"] * n_ops["verify"] / slices if slices else 0.0
    )
    # registry queries run their noop write under "<op_id>:exec"; every
    # other job of the op fired while the query was built
    build_exec = [t for ts in getattr(w, "build_exec", {}).values() for t in ts]
    registry = queries if build_exec else []
    exec_jobs = [groups.get(o.op_id + ":exec", {}).get("jobs", 0.0) for o in registry]
    build_jobs = [
        by_op.get(o.op_id, {}).get("jobs", 0.0) - j for o, j in zip(registry, exec_jobs)
    ]
    for name, xs in (
        ("build_s", [t[0] for t in build_exec]),
        ("exec_s", [t[1] for t in build_exec]),
        ("build_jobs", build_jobs),
        ("exec_jobs", exec_jobs),
    ):
        metrics[f"registry.{name}"] = statistics.fmean(xs) if xs else 0.0
    for kind, fields in spark.items():
        for k, v in fields.items():
            metrics[f"spark.{kind}.{k}"] = v
    traced_spans = sum(1 for s in b.tracer.spans if s.op_id in {o.op_id for o in measured})
    metrics["trace.spans_per_op"] = traced_spans / max(len(measured), 1)
    metrics["trace.overhead_s"] = e2e["cycle_s"] - untraced["cycle_s"]
    metrics["trace.overhead_cpu_s"] = e2e["cycle_cpu_s"] - untraced["cycle_cpu_s"]
    metrics["trace.overhead_ratio"] = e2e["op_cpu_s"] / untraced["op_cpu_s"] - 1
    detail = {
        "spans_per_op": by_kind,
        "spark_per_op": spark,
        "tracing_overhead": {
            k: {"traced": v, "untraced": untraced[k], "traced_minus_untraced": v - untraced[k]}
            for k, v in e2e.items()
        },
    }
    if registry:
        # per query, from its last pass
        detail["registry_jobs"] = {
            o.name: {"build": bj, "exec": ej}
            for o, bj, ej in zip(registry, build_jobs, exec_jobs)
        }
    return metrics, detail


def untraced_run(args: argparse.Namespace) -> dict[str, float] | None:
    """End-to-end and wall-clock figures of this workload and seed with
    tracing off, from a child run (the event log cannot be switched off
    in a live session)."""
    cmd = [
        sys.executable,
        os.path.abspath(__file__),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", "0",
    ]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=170)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or len(lines) < 2 or not json.loads(lines[-1])["correct"]:
        return None
    report = json.loads(lines[-2])["perfbench_report"]
    return {**report["end_to_end"], **report["wall_clock"]}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "kamu_cli_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(f"perfbench: no kamu_cli_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    from perfbench.core import Bench
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    untraced = None
    if args.trace:
        untraced = untraced_run(args)
        if untraced is None:
            print("perfbench: the untraced run failed", file=sys.stderr)
            return 1
    base = os.path.join(ROOT, ".perfbench-work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        prepare_env(work)
        b = Bench(work, args.seed, args.seconds, bool(args.trace))
        report, result = run(b, WORKLOADS[args.workload](b), args, untraced)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run is using it
    print(json.dumps({"perfbench_report": report}, default=str))
    print(json.dumps(result))
    return 0


def run(b, w, args: argparse.Namespace, untraced: dict | None) -> tuple[dict, dict]:
    """Set up, measure, check; returns the full report and the result
    line."""
    try:
        b.start_spark()
        if b.trace:
            from perfbench import layers

            layers.install(b.tracer, b.catalyst)
            sc = b.spark.sparkContext
            b.tracer.set_group = lambda g: sc.setJobGroup(g, g)
        prep_s = []
        for i in range(SETUP_REPS):
            t = time.perf_counter()
            w.prepare(os.path.join(b.work, f"prep{i}"))
            prep_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        w.seed()
        seed_s = time.perf_counter() - t
        setup_s = b.boot_s + statistics.median(prep_s) + seed_s

        b.phase = "loop"
        w.loop(time.perf_counter() + b.seconds)
        b.phase = "finish"
        w.finish()
        rss = {"jvm_hwm_mb": b.jvm_hwm_mb(), "python_maxrss_mb": b.python_maxrss_mb()}
        try:
            bad = w.check()
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            bad = [f"check raised {e!r}"]
        env = {
            "nproc": os.cpu_count(),
            "usable_cpus": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "pyspark": b.spark.version,
            "java": b.spark._jvm.System.getProperty("java.version"),
            "sf": w.SF,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
        }
        workload_figures = w.report()
    finally:
        b.tracer.unpatch_all()
        b.stop_spark()

    attempted = b.timed("loop", "finish")
    failed = sum(1 for o in attempted if not o.ok)
    e2e = end_to_end(b, w, setup_s)
    wall = wall_clock(b, w)
    report = {
        "workload": args.workload,
        "env": env,
        "setup": {"boot_s": b.boot_s, "prepare_s": prep_s, "seed_s": seed_s},
        "end_to_end": e2e,
        "wall_clock": wall,
        "latency": latency_report(b, w),
        "cycles": len(w.cycle_s),
        "cycle_wall_s": w.cycle_s,
        "cycle_cpu_s": w.cycle_cpu_s,
        "peak_rss_mb": sum(rss.values()),
        "rss": rss,
        "figures": workload_figures,
        "failed_op_ratio": failed / max(len(attempted), 1),
        "check_failures": bad,
    }
    if b.trace:
        metrics, detail = per_layer(b, w, {**e2e, **wall}, untraced)
        report["layers"] = detail
        units = {k: _unit(k) for k in metrics}
    else:
        metrics, units = e2e, E2E_UNITS
    result = {
        "correct": not bad,
        "attempted": len(attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return report, result


def _unit(name: str) -> str:
    if name.endswith("_bytes"):
        return "B"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
