"""The benchmark's workloads.

Each workload generates its inputs from the seed and writes them as
Parquet during set-up; the package only ever receives those files. A
workload has these phases:

- ``prepare(d)``: generate inputs under directory ``d`` and create the
  workspace there (repeated for the set-up median; the last one is
  used);
- ``seed()``: the rest of set-up, run once: the first commits and pulls,
  or the registry's cold pass;
- ``loop(deadline)``: the timed closed loop, in whole cycles (a round
  or a pass); each cycle's wall and CPU time land in ``cycle_s`` and
  ``cycle_cpu_s``;
- ``finish()``: timed closing operations (``verify_dataset``);

then ``check()`` returns the list of correctness failures and
``report()`` the workload's own named figures.

Operations are named ``<kind>:<target>``; the kinds are ``commit``
(``DataWriter.write``), ``pull`` (a transform executor's ``execute``),
``query`` (``QueryService`` through ``collect()``, or a registry query
through the noop sink) and ``verify`` (``verify_dataset``).
"""

from __future__ import annotations

import os
import statistics
import time
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.core import Bench, geomean

APPEND, RETRACT, CORRECT_FROM, CORRECT_TO = 0, 1, 2, 3
SYSTEM_COLS = ["offset", "op", "system_time", "event_time"]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def _seconds(ops, prefix: str) -> list[float]:
    return [o.seconds for o in ops if o.ok and o.name.startswith(prefix)]


def _row_set_diff(a, b) -> int:
    """Rows in either DataFrame but not the other (multiset)."""
    return a.exceptAll(b).count() + b.exceptAll(a).count()


def _same_rows(cols: list[str], rows, dcols: list[str], drows) -> bool:
    """Order-insensitive equality of Spark rows and DuckDB rows, by the
    registry oracle's canonical hash."""
    from oracle_check import table_hash

    if sorted(cols) != sorted(dcols) or len(rows) != len(drows):
        return False
    return table_hash(cols, [tuple(r) for r in rows]) == table_hash(dcols, drows)


def _duck(con, sql: str) -> tuple[list[str], list]:
    """Columns and rows of a DuckDB query, as Python values (exact
    HUGEINT sums, like Spark's BIGINT sums)."""
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def fitting_units(deadline: float, at_least: int):
    """Yield 0, 1, ... while another unit of work (a cycle) is expected
    to end by `deadline`, judging by the slowest unit so far; the first
    `at_least` always run. Whole units keep the op mix of every run the
    same, and the prediction keeps the unit count from flipping between
    runs whose units take nearly `deadline / k`."""
    i, longest = 0, 0.0
    while i < at_least or time.perf_counter() + longest <= deadline:
        t = time.perf_counter()
        yield i
        longest = max(longest, time.perf_counter() - t)
        i += 1


class Workload:
    name = ""
    SF: float | None = None
    # cycles every run measures, however long they take
    MIN_CYCLES = 1

    def __init__(self, b: Bench):
        self.b = b
        self.cycle_s: list[float] = []
        self.cycle_cpu_s: list[float] = []
        # verify op name -> slices it checked
        self.slices: dict[str, int] = {}

    @property
    def spark(self):
        return self.b.spark

    def seed(self) -> None:
        pass

    def loop(self, deadline: float) -> None:
        for i in fitting_units(deadline, self.MIN_CYCLES):
            if not self.has_cycle(i):
                break
            t, cpu = time.perf_counter(), self.b.cpu_s()
            self.cycle(i)
            self.cycle_s.append(time.perf_counter() - t)
            self.cycle_cpu_s.append(self.b.cpu_s() - cpu)

    def has_cycle(self, i: int) -> bool:
        return True

    def cycle(self, i: int) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        pass

    def workspace_stats(self) -> dict[str, float]:
        """Metadata blocks and materialized-state bytes of the ODF
        workspace; a workload without one has neither."""
        return {"ledger.blocks": 0, "dataset.state_bytes": 0}


# -- ingest_cdc_pull_query ---------------------------------------------------

QUERIES = {
    "segment_balance": (
        "SELECT c_mktsegment, count(*) AS n, "
        "sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS bal_cents "
        "FROM {customer} GROUP BY c_mktsegment"
    ),
    "nation_spend": (
        "SELECT c.c_nationkey, count(*) AS n, "
        "sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents "
        "FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey "
        "GROUP BY c.c_nationkey"
    ),
    "top_spenders": (
        "SELECT o_custkey, spend_cents FROM {spend} "
        "ORDER BY spend_cents DESC, o_custkey LIMIT 20"
    ),
}

# a user's by-hand projection of a derivative changelog: the newest row
# per key, unless that row retracts the key
SPEND_PROJECTION = (
    "(SELECT * FROM (SELECT *, row_number() OVER "
    "(PARTITION BY o_custkey ORDER BY offset DESC) AS rn "
    "FROM spend_by_customer) WHERE rn = 1 AND op <> 1)"
)

SPEND_SQL = (
    "SELECT o_custkey, count(*) AS n_orders, "
    "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_cents "
    "FROM orders GROUP BY o_custkey"
)
URGENT_SQL = (
    "SELECT op, event_time, o_orderkey, o_custkey, o_totalprice, o_orderdate "
    "FROM orders WHERE o_orderpriority = '1-URGENT'"
)
TOP_SQL = (
    "SELECT c_custkey, c_name, c_acctbal FROM customer "
    "ORDER BY c_acctbal DESC, c_custkey LIMIT 10"
)


def perturb(
    rng: np.random.Generator,
    table: pa.Table,
    key: str,
    change: str,
    make_rows,
) -> tuple[pa.Table, dict[int, int]]:
    """Next snapshot: remove, change and add a seeded share of rows.
    Returns it with the changelog ops the snapshot merge must emit."""
    keys = table.column(key).to_numpy()
    n = len(keys)
    n_rm = int(rng.uniform(0.005, 0.02) * n)
    n_ch = int(rng.uniform(0.02, 0.05) * n)
    n_add = int(rng.uniform(0.01, 0.03) * n)
    pick = rng.permutation(n)
    rm, ch = pick[:n_rm], pick[n_rm : n_rm + n_ch]
    cols = {
        c: table.column(c).to_numpy(zero_copy_only=False).copy()
        for c in table.column_names
    }
    cols[change][ch] = np.round(cols[change][ch] + rng.uniform(1.0, 100.0, n_ch), 2)
    keep = np.ones(n, dtype=bool)
    keep[rm] = False
    kept = pa.table(
        {c: pa.array(v[keep], table.schema.field(c).type) for c, v in cols.items()}
    )
    added = make_rows(rng, np.arange(n_add) + int(keys.max()) + 1)
    ops = {APPEND: n_add, RETRACT: n_rm, CORRECT_FROM: n_ch, CORRECT_TO: n_ch}
    return pa.concat_tables([kept, added.cast(table.schema)]), ops


class IngestCdcPullQuery(Workload):
    """The ODF lifecycle over one workspace, in rounds.

    - ``events`` (ledger merge on ``event_id``) takes a backfill in
      set-up, then ~1k-row batches in event-time order. Each batch
      re-sends a seeded share of the previous batch's rows, as
      at-least-once delivery would, and the merge must drop them.
    - ``customer`` and ``orders`` (snapshot merge) take a perturbed full
      snapshot each round: rows removed, changed and added.
    - Three derivatives are pulled: an interval filter over ``orders``
      passing ``op`` through, an aggregating ``spend_by_customer`` and a
      stateful top-10 over ``customer``.
    - A fixed ``QueryService`` mix reads what the commits wrote.
    - The run ends with ``verify_dataset`` over all six datasets:
      ``events`` holds many small slices, the others a few large ones.
    """

    name = "ingest_cdc_pull_query"
    SF = 0.01  # 1.5k customers, 15k orders
    BACKFILL = 20_000
    BATCH = 1_000
    BATCHES_PER_ROUND = 3
    PK = {"customer": ["c_custkey"], "orders": ["o_orderkey"]}
    EVENTS_PK = ["event_id"]
    DERIVATIVES = ["orders_urgent", "spend_by_customer", "top_customers"]
    DATASETS = ["events", *PK, *DERIVATIVES]
    DERIVED_PK = {
        "orders_urgent": ["o_orderkey"],
        "spend_by_customer": ["o_custkey"],
        "top_customers": ["c_custkey"],
    }

    def prepare(self, d: str) -> None:
        # more rounds than a run can do; a round takes over 10 s
        self.max_rounds = self.b.seconds // 5 + 2
        self.inputs = os.path.join(d, "in")
        os.makedirs(self.inputs)
        self._make_events()
        self._make_snapshots()
        self.ws = os.path.join(d, "ws")
        self._create_workspace()

    def _make_events(self) -> None:
        n_batches = self.max_rounds * self.BATCHES_PER_ROUND
        n = self.BACKFILL + n_batches * self.BATCH
        events = gen.make_tables(self.b.seed, n / gen.BASE_ROWS["events"], ["events"])
        events = events["events"].rename_columns(
            ["event_time" if c == "ts" else c for c in events["events"].column_names]
        )
        backfill = os.path.join(self.inputs, "events_backfill.parquet")
        pq.write_table(events.slice(0, self.BACKFILL), backfill)
        self.batches = [backfill]
        rng = np.random.default_rng([self.b.seed, 100])
        prev_lo = self.BACKFILL - self.BATCH
        for i in range(n_batches):
            lo = self.BACKFILL + i * self.BATCH
            k = int(round(rng.uniform(0.05, 0.25) * self.BATCH))
            resend = np.sort(rng.choice(self.BATCH, k, replace=False)) + prev_lo
            batch = pa.concat_tables(
                [events.take(pa.array(resend)), events.slice(lo, self.BATCH)]
            )
            path = os.path.join(self.inputs, f"events_{i:04d}.parquet")
            pq.write_table(batch, path)
            self.batches.append(path)
            prev_lo = lo

    def _make_snapshots(self) -> None:
        t = gen.make_tables(self.b.seed, self.SF, ["customer", "orders"])
        n_cust = t["customer"].num_rows
        rng = np.random.default_rng([self.b.seed, 200])
        self.snaps: dict[str, list[str]] = {"customer": [], "orders": []}
        self.expected_ops = [{APPEND: t["orders"].num_rows}]
        cust, orders = t["customer"], t["orders"]
        for r in range(self.max_rounds + 1):
            if r:
                cust, _ = perturb(rng, cust, "c_custkey", "c_acctbal", gen.customer_rows)
                orders, ops = perturb(
                    rng,
                    orders,
                    "o_orderkey",
                    "o_totalprice",
                    lambda g, k: gen.order_rows(g, k, n_cust),
                )
                self.expected_ops.append(ops)
            for name, tab in (("customer", cust), ("orders", orders)):
                path = os.path.join(self.inputs, f"{name}_{r:03d}.parquet")
                pq.write_table(tab, path)
                self.snaps[name].append(path)

    def _create_workspace(self) -> None:
        from kamu_cli_spark.dataset import Dataset
        from kamu_cli_spark.transform import set_transform

        merges = {"events": ("ledger", self.EVENTS_PK)}
        merges.update({n: ("snapshot", pk) for n, pk in self.PK.items()})
        for name, (kind, pk) in merges.items():
            ds = Dataset.create(self.ws, name)
            ds.chain.append(
                {
                    "kind": "AddPushSource",
                    "source_name": name,
                    "merge": {"kind": kind, "primary_key": pk},
                }
            )
        path = {n: os.path.join(self.ws, n) for n in self.PK}
        derivatives = [
            ("orders_urgent", "orders", URGENT_SQL, None),
            (
                "spend_by_customer",
                "orders",
                SPEND_SQL,
                {
                    "kind": "aggregating",
                    "group_keys": ["o_custkey"],
                    "input_primary_key": ["o_orderkey"],
                },
            ),
            (
                "top_customers",
                "customer",
                TOP_SQL,
                {
                    "kind": "stateful",
                    "output_primary_key": ["c_custkey"],
                    "input_primary_keys": {"customer": ["c_custkey"]},
                },
            ),
        ]
        for name, src, sql, executor in derivatives:
            ds = Dataset.create(self.ws, name, kind="Derivative")
            set_transform(ds, {src: path[src]}, sql, executor=executor)

    def _ds(self, name: str):
        from kamu_cli_spark.dataset import Dataset

        return Dataset(os.path.join(self.ws, name))

    def finish(self) -> None:
        from kamu_cli_spark.verification import verify_dataset

        self.verified = {}
        for name in self.DATASETS:
            res = self.b.op(
                f"verify:{name}", lambda: verify_dataset(self.spark, self._ds(name))
            )
            self.verified[name] = res
            if res:
                self.slices[f"verify:{name}"] = res["slices"]

    def _check_verified(self) -> list[str]:
        return [
            f"verify_dataset({name}) returned {res}"
            for name, res in self.verified.items()
            if not res or res["slices"] != len(self._ds(name).chain.data_files())
        ]

    def _stored_bytes_per_row(self) -> float:
        rows = sum(self._ds(n).chain.next_offset() for n in self.DATASETS)
        return _dir_bytes(self.ws) / max(rows, 1)

    def workspace_stats(self) -> dict[str, float]:
        blocks, state = 0, 0
        for n in self.DATASETS:
            ds = self._ds(n)
            blocks += len(ds.chain)
            if os.path.isdir(ds.state_path()):
                state += _dir_bytes(ds.state_path())
        return {"ledger.blocks": blocks, "dataset.state_bytes": state}

    def seed(self) -> None:
        self._commit("events", self.batches[0])
        self.events_committed = [self.batches[0]]
        for name in self.PK:
            self._commit(name, self.snaps[name][0])
        for name in self.DERIVATIVES:
            self._pull(name)
        self.last_round = 0
        self.results: dict[str, Any] = {}

    def _commit(self, name: str, path: str) -> dict | None:
        from kamu_cli_spark.operators.merge import (
            MergeStrategyLedger,
            MergeStrategySnapshot,
        )
        from kamu_cli_spark.writer import DataWriter

        if name == "events":
            strategy = MergeStrategyLedger(self.EVENTS_PK)
        else:
            strategy = MergeStrategySnapshot(self.PK[name])
        writer = DataWriter(self._ds(name), strategy)
        return writer.write(self.spark, self.spark.read.parquet(path))

    def _pull(self, name: str) -> dict | None:
        from kamu_cli_spark.transform import make_transform_executor

        return make_transform_executor(self._ds(name)).execute(self.spark)

    def _queries(self):
        from kamu_cli_spark.query.service import QueryService

        qs = QueryService(self.spark, self.ws)
        sql = {
            k: v.format(
                customer="to_table('customer')",
                orders="to_table('orders')",
                spend=SPEND_PROJECTION,
            )
            for k, v in QUERIES.items()
        }
        sql["orders_op_counts"] = "SELECT op, count(*) AS n FROM orders GROUP BY op"
        out = [(name, lambda s=s: qs.sql(s).collect()) for name, s in sql.items()]
        out.append(("orders_tail", lambda: qs.tail("orders", limit=100).collect()))
        return out

    def has_cycle(self, i: int) -> bool:
        return i < self.max_rounds

    def cycle(self, i: int) -> None:
        r = i + 1
        for k in range(self.BATCHES_PER_ROUND):
            path = self.batches[i * self.BATCHES_PER_ROUND + k + 1]
            if self.b.op("commit:events", lambda: self._commit("events", path)):
                self.events_committed.append(path)
        ok = [
            self.b.op(f"commit:{n}", lambda: self._commit(n, self.snaps[n][r]))
            is not None
            for n in self.PK
        ]
        if all(ok):
            self.last_round = r
        for name in self.DERIVATIVES:
            self.b.op(f"pull:{name}", lambda: self._pull(name))
        for name, fn in self._queries():
            self.results[name] = self.b.op(f"query:{name}", fn)

    def check(self) -> list[str]:
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(self.b.work, 'duckdb')}'")
        try:
            bad = self._check_verified()
            bad += self._check_events()
            bad += self._check_cdc(con)
            bad += self._check_queries(con)
        finally:
            con.close()
        return bad

    def _projection(self, name: str):
        from kamu_cli_spark.operators.merge import project_changelog

        pk = self.PK.get(name) or self.DERIVED_PK[name]
        df = project_changelog(self._ds(name).read(self.spark), pk)
        return df.drop(*[c for c in SYSTEM_COLS if c in df.columns])

    def _check_events(self) -> list[str]:
        """Row count equals the distinct event_ids sent, offsets are
        dense, and the projection equals the rows sent."""
        from pyspark.sql import functions as F

        from kamu_cli_spark.operators.merge import project_changelog

        bad = []
        sent = self.spark.read.parquet(*self.events_committed).distinct()
        data = self._ds("events").read(self.spark)
        st = data.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("offset").alias("lo"),
            F.max("offset").alias("hi"),
            F.countDistinct("offset").alias("offsets"),
        ).collect()[0]
        n_sent = sent.select("event_id").distinct().count()
        if st["n"] != n_sent:
            bad.append(f"events: {st['n']} rows, {n_sent} distinct event_ids sent")
        if (st["lo"], st["hi"], st["offsets"]) != (0, st["n"] - 1, st["n"]):
            bad.append(f"events: offsets not dense: {st}")
        sent = sent.withColumn("event_time", F.col("event_time").cast("timestamp"))
        proj = project_changelog(data, self.EVENTS_PK).select(*sent.columns)
        if _row_set_diff(proj, sent):
            bad.append("events: projection differs from the rows sent")
        return bad

    def _check_cdc(self, con) -> list[str]:
        """Each root's projection equals its last snapshot; each
        derivative's equals the same SQL run on that snapshot."""
        bad = []
        r = self.last_round
        for n in self.PK:
            snap = self.snaps[n][r]
            con.execute(f"CREATE OR REPLACE VIEW {n} AS SELECT * FROM read_parquet('{snap}')")
            if _row_set_diff(self._projection(n), self.spark.read.parquet(snap)):
                bad.append(f"{n}: projection differs from snapshot {r}")
        urgent = URGENT_SQL.replace("op, event_time, ", "")
        for name, sql in (
            ("orders_urgent", urgent),
            ("spend_by_customer", SPEND_SQL),
            ("top_customers", TOP_SQL),
        ):
            got = self._projection(name)
            if not _same_rows(got.columns, got.collect(), *_duck(con, sql)):
                bad.append(f"{name}: projection differs from its SQL on the snapshot")
        return bad

    def _check_queries(self, con) -> list[str]:
        """Each query of the last round matches DuckDB on the snapshot
        (or, for the raw changelog, the perturbation counts)."""
        bad = []
        expected = {
            "segment_balance": QUERIES["segment_balance"].format(customer="customer"),
            "nation_spend": QUERIES["nation_spend"].format(
                customer="customer", orders="orders"
            ),
            "top_spenders": QUERIES["top_spenders"].format(spend=f"({SPEND_SQL})"),
        }
        for name, sql in expected.items():
            rows = self.results.get(name)
            cols = list(rows[0].asDict()) if rows else []
            if rows is None or not _same_rows(cols, rows, *_duck(con, sql)):
                bad.append(f"query {name} differs from DuckDB on the snapshot")
        ops: dict[int, int] = {}
        for e in self.expected_ops[: self.last_round + 1]:
            for k, v in e.items():
                ops[k] = ops.get(k, 0) + v
        got = {row["op"]: row["n"] for row in self.results.get("orders_op_counts") or []}
        if got != {k: v for k, v in ops.items() if v}:
            bad.append(f"query orders_op_counts {got} != perturbation counts {ops}")
        orders = self._ds("orders")
        files = [os.path.join(orders.path, f["path"]) for f in orders.chain.data_files()]
        cols = ["offset", "op", "o_orderkey", "o_totalprice"]
        select = ", ".join(f'"{c}"' for c in cols)
        want = _duck(
            con,
            f'SELECT {select} FROM read_parquet({files!r}) ORDER BY "offset" DESC LIMIT 100',
        )
        tail = self.results.get("orders_tail")
        if tail is None or not _same_rows(
            cols, [tuple(x[c] for c in cols) for x in tail], *want
        ):
            bad.append("query orders_tail differs from DuckDB over the slice files")
        return bad

    def report(self) -> dict[str, Any]:
        loop, finish = self.b.timed("loop"), self.b.timed("finish")
        inputs = self.events_committed[1:] + [
            self.snaps[n][r] for r in range(1, self.last_round + 1) for n in self.PK
        ]
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in inputs)
        commits = _seconds(loop, "commit:")
        out: dict[str, Any] = {
            "rounds": self.last_round,
            "commit_rows_per_s": rows / sum(commits) if commits else None,
            "verify_s": sum(_seconds(finish, "verify:")),
            "stored_bytes_per_row": self._stored_bytes_per_row(),
            "events_ledger_blocks": len(self._ds("events").chain),
        }
        for name in ("commit:events", "commit:customer", "commit:orders"):
            xs = _seconds(loop, name)
            out[name.replace(":", "_") + "_p50_s"] = statistics.median(xs) if xs else None
        # verify over many small slices (events) against a few large ones
        for name in ("events", "orders"):
            op = f"verify:{name}"
            if op in self.slices:
                out[f"verify_{name}_s_per_slice"] = (
                    sum(_seconds(finish, op)) / self.slices[op]
                )
        return out


# -- registry_queries --------------------------------------------------------

# A fixed slice of bench.py's headline list, one or two queries per
# family (relational, windowed, temporal joins, CDC merges, text dedup,
# ANN with Python UDF workers), named here so a later edit to bench.py
# cannot change the workload.
REGISTRY = [
    "tpch_q3",
    "tpch_q6",
    "top3_orders_per_customer",
    "events_daily_tumbling",
    "orders_lineitem_interval_join",
    "orders_events_asof_join",
    "customer_snapshot_cdc",
    "orders_ledger_merge",
    "events_upsert_merge",
    "documents_simhash",
    "documents_minhash_lsh",
    "embeddings_ivf_ann",
]


class RegistryQueries(Workload):
    """Passes over a fixed list of ``__spark_entry__.queries()``; each
    query is built, written to the noop sink, and the cache is cleared.
    The first pass is cold, counts toward set-up, and collects every
    result for the oracle check."""

    name = "registry_queries"
    SF = 0.01
    # the first warm pass is still slower than the next, and now and then
    # one pass costs half as much CPU again: a median of three holds
    MIN_CYCLES = 3

    def prepare(self, d: str) -> None:
        self.sf_dir = os.path.join(d, "sf")
        gen.write_tables(self.sf_dir, self.b.seed, self.SF)
        self.build_exec: dict[str, list[tuple[float, float]]] = {}
        self.collected: dict[str, tuple[list[str], list]] = {}

    def seed(self) -> None:
        import __spark_entry__ as entry

        self.fns = entry.queries()
        for q in REGISTRY:

            def run(q=q):
                df = self.fns[q](self.spark, self.sf_dir)
                self.collected[q] = (df.columns, df.collect())
                self.spark.catalog.clearCache()

            self.b.op(f"cold:{q}", run)

    def _run(self, q: str) -> None:
        t0 = time.perf_counter()
        df = self.fns[q](self.spark, self.sf_dir)
        t1 = time.perf_counter()
        if self.b.trace:
            from perfbench.layers import record_query_phases

            op_id = self.b.tracer.op_id
            record_query_phases(df, self.b.catalyst.setdefault(op_id, {}))
            # construction and execution jobs get their own groups
            self.spark.sparkContext.setJobGroup(f"{op_id}:exec", q)
        df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        self.spark.catalog.clearCache()
        self.build_exec.setdefault(q, []).append((t1 - t0, t2 - t1))

    def cycle(self, i: int) -> None:
        for q in REGISTRY:
            self.b.op(f"query:{q}", lambda: self._run(q))

    def check(self) -> list[str]:
        """Each cold-pass result matches its ``oracle_sql()`` DuckDB twin
        under the oracle check's canonical hash."""
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(self.b.work, 'duckdb')}'")
        for t in gen.TABLES:
            path = os.path.join(self.sf_dir, t + ".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        bad = []
        for q in REGISTRY:
            if q not in self.collected:
                bad.append(f"registry: {q} produced no result")
                continue
            # .df(), like the oracle check: HUGEINT -> float drift must show
            ddf = con.execute(oracles[q]).df()
            drows = list(ddf.itertuples(index=False, name=None))
            if not _same_rows(*self.collected[q], list(ddf.columns), drows):
                bad.append(f"registry: {q} differs from its oracle")
        con.close()
        return bad

    def report(self) -> dict[str, Any]:
        loop = self.b.timed("loop")
        per_query = {q: statistics.median(_seconds(loop, f"query:{q}")) for q in REGISTRY}
        return {
            "registry_pass_s": statistics.median(self.cycle_s),
            "registry_passes": len(self.cycle_s),
            "registry_geomean_s": geomean(list(per_query.values())),
            "cold_pass_s": sum(_seconds(self.b.timed("setup"), "cold:")),
            "per_query": {
                q: {
                    "median_s": per_query[q],
                    "build_s": statistics.median([b for b, _ in self.build_exec[q]]),
                    "exec_s": statistics.median([e for _, e in self.build_exec[q]]),
                }
                for q in REGISTRY
            },
        }


WORKLOADS = {w.name: w for w in (IngestCdcPullQuery, RegistryQueries)}
