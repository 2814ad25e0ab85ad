"""Where the traced run puts its spans, and how it turns them into
per-layer metrics.

Layers are the package's modules. DataFrames are lazy, so a span around
a lazy call (``merge``, ``assign_offsets``) measures plan construction
plus any eager jobs it fires; execution lands in the span of whichever
call runs the action. Each span sets its own Spark job group, so the
event log attributes every job to the innermost span that fired it.
Each span is patched where the caller looks the function up:
``writer.py`` binds ``assign_offsets`` at import time, so that name is
patched in ``writer`` as well as in ``plans.offsets``.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Any

from perfbench.trace import SPARK_FIELDS, Span, Tracer, self_times

KINDS = ("commit", "pull", "query", "verify")

# per-layer metric -> (op kind, span, field); each is the span's figure
# per traced op of that kind
SPAN_METRICS = {
    "ledger.append_s": ("commit", "ledger.append", "total_s"),
    "ledger.load_s": ("commit", "ledger.load", "total_s"),
    "ledger.verify_s": ("verify", "ledger.verify", "total_s"),
    "writer.self_s": ("commit", "writer.write", "self_s"),
    "writer.write_slice_s": ("commit", "writer.write_slice", "total_s"),
    "writer.jobs_per_commit": ("commit", "writer.write", "jobs"),
    "writer.slices": ("commit", "writer.write_slice", "calls"),
    "plans.offsets.assign_s": ("commit", "plans.offsets.assign", "total_s"),
    "dataset.read_state_s": ("commit", "dataset.read_state", "total_s"),
    "dataset.write_state_s": ("commit", "dataset.write_state", "total_s"),
    "dataset.refresh_state_s": ("pull", "dataset.refresh_state", "total_s"),
    "dataset.read_between_s": ("pull", "dataset.read_between", "total_s"),
    "transform.elaborate_s": ("pull", "transform.elaborate", "total_s"),
    "transform.self_s": ("pull", "transform.execute", "self_s"),
    "query.build_s": ("query", "query.build", "total_s"),
    "verification.physical_hash_s": ("verify", "verification.physical_hash", "total_s"),
    "verification.slice_check_s": ("verify", "verification.verify_dataset", "self_s"),
}


def install(tracer: Tracer, catalyst: dict[str, dict[str, float]]) -> None:
    """Patch the package's layer boundaries, plus the DataFrame actions
    whose Catalyst phase times land in `catalyst` keyed by op id."""
    from pyspark.sql.classic.dataframe import DataFrame

    from kamu_cli_spark import dataset, transform, verification, writer
    from kamu_cli_spark.ledger import chain
    from kamu_cli_spark.operators import merge
    from kamu_cli_spark.plans import offsets
    from kamu_cli_spark.query import service

    def wrap_after(owner: type, attr: str, after) -> None:
        orig = owner.__dict__[attr]

        def wrapper(self, *args, **kwargs):
            result = orig(self, *args, **kwargs)
            if tracer.enabled:
                after(self, result)
            return result

        tracer._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def count_state_read(ds, result) -> None:
        tracer.counters["dataset.read_state.calls"] += 1
        tracer.counters["dataset.read_state.fresh"] += result is not None

    def count_change_events(w, event) -> None:
        if event:
            tracer.counters["writer.records"] += event["new_data"]["num_records"]

    # the counters sit inside the spans, so they are patched first
    wrap_after(dataset.Dataset, "read_state", count_state_read)
    wrap_after(writer.DataWriter, "write", count_change_events)
    spans = [
        (chain.MetadataChain, "__init__", "ledger.load"),
        (chain.MetadataChain, "_reload_if_stale", "ledger.load"),
        (chain.MetadataChain, "append", "ledger.append"),
        (chain.MetadataChain, "verify", "ledger.verify"),
        (writer.DataWriter, "write", "writer.write"),
        (writer.DataWriter, "write_slice", "writer.write_slice"),
        (offsets, "assign_offsets", "plans.offsets.assign"),
        (writer, "assign_offsets", "plans.offsets.assign"),
        (dataset.Dataset, "read", "dataset.read"),
        (dataset.Dataset, "read_state", "dataset.read_state"),
        (dataset.Dataset, "write_state", "dataset.write_state"),
        (dataset.Dataset, "refresh_state", "dataset.refresh_state"),
        (dataset.Dataset, "read_between", "dataset.read_between"),
        (transform.TransformExecutor, "elaborate", "transform.elaborate"),
        (transform.TransformExecutor, "execute", "transform.execute"),
        (transform.AggregatingTransformExecutor, "execute", "transform.execute"),
        (transform.StatefulTransformExecutor, "execute", "transform.execute"),
        (service.QueryService, "sql", "query.build"),
        (service.QueryService, "tail", "query.build"),
        (verification, "verify_dataset", "verification.verify_dataset"),
        (verification, "physical_hash", "verification.physical_hash"),
    ]
    for cls in (
        merge.MergeStrategyAppend,
        merge.MergeStrategyLedger,
        merge.MergeStrategySnapshot,
        merge.MergeStrategyChangelogStream,
        merge.MergeStrategyUpsertStream,
        transform._PassthroughOps,
    ):
        spans.append((cls, "merge", "operators.merge.build"))
    for owner, attr, name in spans:
        tracer.patch(owner, attr, name)

    def phases(df, result) -> None:
        _record_phases(df, catalyst.setdefault(tracer.op_id, {}))

    for action in ("collect", "toLocalIterator"):
        wrap_after(DataFrame, action, phases)


def _record_phases(df: Any, into: dict[str, float]) -> None:
    """Add the Catalyst phase times of `df`'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            into[name] = into.get(name, 0.0) + opt.get().durationMs() / 1e3


def record_query_phases(df: Any, into: dict[str, float]) -> None:
    """Force optimization and planning of a DataFrame that will be
    written (a write plans its own copy of the query) and record them."""
    df._jdf.queryExecution().executedPlan()
    _record_phases(df, into)


def summarize(spans: list[Span], ops, groups: dict[str, dict[str, float]]):
    """Per op kind, per span name: calls, total and self seconds and
    Spark jobs (the span's own and its descendants'), each divided by
    the number of ops of that kind."""
    n_ops: dict[str, int] = defaultdict(int)
    kind_of = {}
    for o in ops:
        kind_of[o.op_id] = o.kind
        n_ops[o.kind] += 1
    jobs = [groups.get(f"{s.op_id}:s{i}", {}).get("jobs", 0.0) for i, s in enumerate(spans)]
    for i in reversed(range(len(spans))):
        if spans[i].parent is not None:
            jobs[spans[i].parent] += jobs[i]
    out: dict[str, dict[str, dict[str, float]]] = defaultdict(
        lambda: defaultdict(
            lambda: {"calls": 0.0, "total_s": 0.0, "self_s": 0.0, "jobs": 0.0}
        )
    )
    for s, st, j in zip(spans, self_times(spans), jobs):
        kind = kind_of.get(s.op_id)
        if kind is None:
            continue
        d = out[kind][s.name]
        n = n_ops[kind]
        d["calls"] += 1 / n
        d["total_s"] += (s.end - s.start) / n
        d["self_s"] += st / n
        d["jobs"] += j / n
    return {k: dict(v) for k, v in out.items()}


def spark_per_kind(ops, by_op: dict[str, dict[str, float]]) -> dict[str, dict[str, float]]:
    """Event-log totals per op of each kind (zeros for absent kinds)."""
    out = {}
    for kind in KINDS:
        kops = [o for o in ops if o.kind == kind]
        tot = {k: 0.0 for k in SPARK_FIELDS}
        for o in kops:
            for k, v in by_op.get(o.op_id, {}).items():
                tot[k] += v
        out[kind] = {k: v / max(len(kops), 1) for k, v in tot.items()}
    return out


def module_metrics(by_kind, counters: dict[str, int], n_ops: dict[str, int]) -> dict[str, float]:
    """The per-layer metrics named after the package's modules, per op
    of the kind that exercises them; 0 where the workload never reaches
    the layer."""

    def get(kind: str, span: str, field: str) -> float:
        return by_kind.get(kind, {}).get(span, {}).get(field, 0.0)

    out = {m: get(*spec) for m, spec in SPAN_METRICS.items()}
    assign = by_kind.get("commit", {}).get("plans.offsets.assign", {})
    out["plans.offsets.jobs_per_call"] = (
        assign["jobs"] / assign["calls"] if assign.get("calls") else 0.0
    )
    # registry queries call the merge strategies without a commit
    merge_kind = "commit" if n_ops.get("commit") else "query"
    out["operators.merge.build_s"] = get(merge_kind, "operators.merge.build", "total_s")
    out["operators.merge.change_events"] = counters.get("writer.records", 0) / max(
        n_ops.get("commit", 0), 1
    )
    calls = counters.get("dataset.read_state.calls", 0)
    out["dataset.state_fresh_ratio"] = (
        counters.get("dataset.read_state.fresh", 0) / calls if calls else 0.0
    )
    return out
