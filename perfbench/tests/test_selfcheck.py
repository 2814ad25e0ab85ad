"""Self-tests of the benchmark: seeded inputs, span arithmetic, event-log
parsing, the end-to-end metric arithmetic, and the replay-determinism
reproduction the benchmark keeps out of its timed operations.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import types
from datetime import datetime, timedelta, timezone

import math
import statistics

import pytest

from perfbench import gen, run
from perfbench.core import Op
from perfbench.trace import Span, Tracer, read_event_log, self_times


def _digests(d: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


# -- seeds -----------------------------------------------------------------


def test_same_seed_gives_identical_tables(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 7, 0.001)
    gen.write_tables(str(tmp_path / "b"), 7, 0.001)
    a, b = _digests(str(tmp_path / "a")), _digests(str(tmp_path / "b"))
    assert len(a) == len(gen.TABLES) and a == b


def test_other_seed_gives_other_tables(tmp_path):
    a = gen.make_tables(7, 0.001)
    b = gen.make_tables(8, 0.001)
    # region and nation are fixed; every generated table must differ
    assert [t for t in gen.TABLES if not a[t].equals(b[t])] == gen.TABLES[2:]


def test_table_subset_matches_full_set():
    full = gen.make_tables(3, 0.001)
    part = gen.make_tables(3, 0.001, ["orders", "events"])
    assert part["orders"].equals(full["orders"])
    assert part["events"].equals(full["events"])


def _prepared(workload_cls, seed: int, d: str) -> dict[str, str]:
    bench = types.SimpleNamespace(seed=seed, seconds=5, trace=False)
    workload_cls(bench).prepare(d)
    return _digests(os.path.join(d, "in"))


def test_workload_inputs_follow_the_seed(tmp_path):
    from perfbench.workloads import IngestCdcPullQuery as cls

    a = _prepared(cls, 5, str(tmp_path / "a"))
    b = _prepared(cls, 5, str(tmp_path / "b"))
    c = _prepared(cls, 6, str(tmp_path / "c"))
    assert a == b
    # every batch / perturbed snapshot changes with the seed
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


# -- end-to-end metrics -------------------------------------------------------


def test_percentile_interpolates_like_the_median():
    xs = [5.0, 1.0, 4.0, 2.0]
    assert run.percentile(xs, 50) == statistics.median(xs)
    assert run.percentile(xs, 0) == 1.0 and run.percentile(xs, 100) == 5.0
    assert run.percentile([3.0], 90) == 3.0
    assert run.percentile(list(map(float, range(11))), 90) == pytest.approx(9.0)


def test_every_kind_weighs_the_same():
    samples = {"commit:a": [1.0, 3.0], "commit:b": [4.0], "query:x": [2.0, 2.0, 9.0]}
    kinds = run.kind_latency(samples)
    assert kinds == {"commit": pytest.approx(math.sqrt(2.0 * 4.0)), "query": 2.0}


def test_verify_counts_per_slice_and_failures_are_left_out():
    ops = [
        Op("op0", "commit:a", "setup", 9.0, 9.0, True),
        Op("op1", "commit:a", "loop", 2.0, 4.0, True),
        Op("op2", "commit:a", "loop", 7.0, 7.0, False),
        Op("op3", "verify:a", "finish", 3.0, 1.5, True),
    ]
    b = types.SimpleNamespace(timed=lambda *ph: [o for o in ops if o.phase in ph])
    w = types.SimpleNamespace(slices={"verify:a": 6})
    assert run.op_samples(b, w) == {"commit:a": [2.0], "verify:a": [0.5]}
    assert run.op_samples(b, w, "cpu_s") == {"commit:a": [4.0], "verify:a": [0.25]}


# -- spans -----------------------------------------------------------------


def test_self_time_on_nested_tree_is_exact():
    spans = [
        Span("root", 0.0, 10.0, None, "op"),
        Span("a", 1.0, 4.0, 0, "op"),
        Span("a1", 2.0, 3.0, 1, "op"),
        Span("b", 3.0, 6.0, 0, "op"),  # overlaps a: counted once
        Span("late", 9.0, 12.0, 0, "op"),  # clipped to the parent
    ]
    assert self_times(spans) == [10.0 - 5.0 - 1.0, 2.0, 1.0, 3.0, 3.0]


def test_tracer_records_parents_only_when_enabled():
    mod = types.SimpleNamespace(f=lambda x: x + 1)

    class C:
        def g(self, x):
            return mod.f(x) * 2

    tr = Tracer()
    tr.patch(mod, "f", "f")
    tr.patch(C, "g", "g")
    assert C().g(1) == 4 and tr.spans == []
    tr.enabled, tr.op_id = True, "op1"
    assert C().g(1) == 4
    assert [(s.name, s.parent, s.op_id) for s in tr.spans] == [
        ("g", None, "op1"),
        ("f", 0, "op1"),
    ]
    tr.unpatch_all()
    tr.spans.clear()
    assert C().g(1) == 4 and tr.spans == []


def test_event_log_is_attributed_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "op00001"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Accumulables": [
             {"Name": "time to run Python workers", "Update": "250"},
             {"Name": "time to start Python workers", "Update": "40"}]},
         "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 2e9,
                          "JVM GC Time": 100,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                          "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 10}},
    ]
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events))
    got = read_event_log(str(tmp_path))
    op = got["op00001"]
    assert (op["jobs"], op["stages"], op["tasks"]) == (1, 1, 1)
    assert (op["task_s"], op["executor_cpu_s"], op["gc_s"]) == (1.5, 2.0, 0.1)
    assert (op["shuffle_write_bytes"], op["spill_bytes"]) == (64, 3)
    assert op["python_udf_s"] == 0.25
    assert (got[""]["jobs"], got[""]["tasks"], got[""]["task_s"]) == (1, 1, 0.01)


# -- transform replay ---------------------------------------------------------

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def spark():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    from kamu_cli_spark.session import get_spark

    return get_spark(app_name="perfbench-selftest", shuffle_partitions=4)


def _derivative_pulled(spark, ws: str, pulls: int):
    from kamu_cli_spark.dataset import Dataset
    from kamu_cli_spark.operators.merge import MergeStrategyLedger
    from kamu_cli_spark.transform import TransformExecutor, set_transform
    from kamu_cli_spark.writer import DataWriter

    t = [T0 + timedelta(hours=h) for h in range(2 * pulls + 1)]
    root = Dataset.create(ws, "r", system_time=t[0].isoformat())
    deriv = Dataset.create(ws, "d", kind="Derivative", system_time=t[0].isoformat())
    set_transform(
        deriv,
        {"r_in": root.path},
        "select event_time, k, v * 10 as v10 from r_in",
        system_time=t[0].isoformat(),
    )
    writer = DataWriter(root, MergeStrategyLedger(["k"]))
    for i in range(pulls):
        # each batch is older in event time than the one before (late
        # data), so one replay over all intervals orders rows differently
        # from the pulls that committed them
        late = T0 - timedelta(days=i + 1)
        batch = spark.createDataFrame(
            [(late, f"k{i}a", i), (late, f"k{i}b", i + 1)],
            "event_time timestamp, k string, v int",
        )
        writer.write(spark, batch, system_time=t[2 * i + 1])
        TransformExecutor(deriv).execute(spark, system_time=t[2 * i + 2])
    return deriv


def test_replay_after_one_pull_is_deterministic(spark, tmp_path):
    from kamu_cli_spark.verification import verify_transform_replay

    assert verify_transform_replay(spark, _derivative_pulled(spark, str(tmp_path), 1))


@pytest.mark.xfail(
    strict=True,
    reason="verify_transform_replay replays every recorded interval in one "
    "execute instead of once per ExecuteTransform block, so a derivative "
    "pulled twice reads as non-deterministic",
)
def test_replay_after_two_pulls_is_deterministic(spark, tmp_path):
    from kamu_cli_spark.verification import verify_transform_replay

    assert verify_transform_replay(spark, _derivative_pulled(spark, str(tmp_path), 2))
