"""The benchmark's workloads: one closed-loop client, one driver process.

Each workload has a setup (inputs, references, initial state) and an
operation that the runner repeats until the run's time is up. Every
operation's output is checked against a reference computed with DuckDB
before the loop; no check runs inside a timer.

- ``lakehouse``: a lakehouse day, in three parts.
  ``Medallion``: one full ``run_pipeline`` refresh into a fresh
  warehouse, then the four dashboard requests served from the tables it
  just wrote (read through ``sources.writers.read_table``).
  ``Incremental``: a cycle of daily increments into a ``MiniDeltaTable``
  of orders: an exactly-once append through the streaming sink's
  ``delta_append_batch`` handler (sometimes followed by a replay of an
  already-committed batch id), an upsert ``merge`` on every third
  increment, a snapshot aggregate read and a change-data-feed read.
- ``curation``: one pass over the registry's LLM-curation and iterative
  jobs, each forced to completion by collecting its (small) result.
  It never touches ``sources.writers`` or ``sources.deltalog``.
"""

from __future__ import annotations

import contextlib
import datetime
import decimal
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import inputs, oracles

# One registry LLM-curation or iterative job per curation operator module
# (the module that implements its core, and its per-layer row).
JOB_OPERATOR = {
    "ext_dedup_minhash_lsh": "neardup",
    "ext_dedup_clusters": "cluster",
    "ext_similarity_topk": "similarity",
    "ext_kmeans_embedding": "kmeans",
    "ext_label_propagation": "graph",
    "ext_pagerank_copurchase": "pagerank",
}
CURATION_JOBS = tuple(JOB_OPERATOR)

DASHBOARDS = ("product_performance", "sales_overview", "site_funnel", "customer_360")

MAX_OPS = 20
MAX_INCREMENTS = 30
MERGE_EVERY = 3
# cycles committed during setup: 8 commits, so the first measured cycle
# crosses the table's checkpoint at version 10
HISTORY_CYCLES = 2
REPLAY_SHARE = 0.25
APP_ID = "perfbench-orders"


class CheckFailed(AssertionError):
    """An operation's output differs from its reference."""


class NullTracer:
    """Stands in for the tracer in the timed run: spans cost nothing."""

    @contextlib.contextmanager
    def span(self, name: str, **_):
        yield None


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _rows(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


class Workload:
    """Base class: ``setup`` once, then ``op(i)`` until time is up.

    ``op`` returns a list of ``(kind, seconds)`` timings and raises
    :class:`CheckFailed` (or any error) when the operation fails."""

    name = ""

    def __init__(self, spark, seed: int, root: str, in_dir: str, tracer=None):
        self.spark = spark
        self.seed = seed
        self.root = root
        self.in_dir = in_dir
        self.tracer = tracer or NullTracer()
        self.bytes_written = 0

    def references(self, con) -> None:
        """Compute the program-independent references (untimed)."""

    def prepare(self) -> None:
        """Build the state the operations start from (timed as set-up)."""

    def op(self, i: int) -> list[tuple[str, float]]:
        raise NotImplementedError

    def after_op(self) -> None:
        """Clean-up between operations, outside every timer."""

    def final_check(self) -> None:
        """Whole-run check after the loop (untimed)."""

    def summary(self) -> dict:
        return {}


# --------------------------------------------------------------------- medallion
class Medallion(Workload):
    """Refresh (bronze -> silver -> gold -> DQ) then serve dashboards.

    The refresh runs once per fresh session, as a scheduled batch job
    does, so its plans are not warmed up; the dashboard requests read the
    tables the refresh wrote."""

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        rng = np.random.default_rng([self.seed, 1])
        p = inputs.plan(self.seed)
        order_start = p["order_start"]
        event_start = datetime.date(2024, 1, 1) + datetime.timedelta(days=p["event_shift_days"])
        self.requests = []
        for _ in range(MAX_OPS):
            for name in rng.permutation(DASHBOARDS):
                self.requests.append(self._params(str(name), rng, order_start, event_start))
        self.warehouses: list[str] = []

    @staticmethod
    def _params(name, rng, order_start, event_start) -> dict:
        if name in ("product_performance", "sales_overview"):
            first = order_start + datetime.timedelta(days=int(rng.integers(0, inputs.ORDER_DATES // 2)))
            last = first + datetime.timedelta(days=inputs.ORDER_DATES // 2 - 1)
        elif name == "site_funnel":
            first = event_start + datetime.timedelta(days=int(rng.integers(0, inputs.EVENT_DATES // 2)))
            last = first + datetime.timedelta(days=inputs.EVENT_DATES // 2 - 1)
        else:
            return {"name": name, "top_n": int(rng.integers(50, 151))}
        return {"name": name, "start_date": first.isoformat(), "end_date": last.isoformat()}

    def references(self, con) -> None:
        # the requests' references are computed as they are served (their
        # count depends on the run's length), outside every timer
        self.ref = oracles.medallion_reference(con)
        self.con = con

    def request(self, wh: str, p: dict):
        from ecommerce_lakehouse_platform_spark.plans import dashboards
        from ecommerce_lakehouse_platform_spark.sources.writers import read_table

        spark, name = self.spark, p["name"]
        if name == "product_performance":
            return dashboards.product_performance(
                read_table(spark, f"{wh}/silver/order_items"),
                read_table(spark, f"{wh}/silver/products"),
                start_date=p["start_date"],
                end_date=p["end_date"],
            )
        if name == "sales_overview":
            return dashboards.sales_overview(
                read_table(spark, f"{wh}/silver/orders"),
                start_date=p["start_date"],
                end_date=p["end_date"],
            )
        if name == "site_funnel":
            return dashboards.site_wide_funnel(
                read_table(spark, f"{wh}/silver/events"),
                start_date=p["start_date"],
                end_date=p["end_date"],
            )
        return dashboards.customer_360_dashboard(
            read_table(spark, f"{wh}/gold/customer_360"), top_n=p["top_n"]
        )

    def op(self, i: int) -> list[tuple[str, float]]:
        from ecommerce_lakehouse_platform_spark.plans.pipeline import run_pipeline

        wh = os.path.join(self.root, f"warehouse-{i}")
        self.warehouses.append(wh)
        timings = []
        t0 = time.perf_counter()
        with self.tracer.span("perfbench.refresh"):
            result = run_pipeline(self.spark, self.in_dir, wh)
        timings.append(("refresh", time.perf_counter() - t0))
        served = []
        for k in range(i * len(DASHBOARDS), (i + 1) * len(DASHBOARDS)):
            p = self.requests[k]
            t0 = time.perf_counter()
            with self.tracer.span(f"perfbench.request.{p['name']}"):
                cols, rows = _rows(self.request(wh, p))
            timings.append((f"request.{p['name']}", time.perf_counter() - t0))
            served.append((k, cols, rows))
        self._check(result, wh, served)
        return timings

    def _check(self, result, wh: str, served) -> None:
        self.bytes_written += _dir_bytes(wh)
        problems = []
        if result.silver_counts != self.ref["silver_counts"]:
            problems.append(f"silver counts {result.silver_counts} != {self.ref['silver_counts']}")
        failed_dq = [r.name for r in result.dq_results if not r.passed]
        if failed_dq or len(result.dq_results) != 4:
            problems.append(f"DQ gate: failed={failed_dq} ran={len(result.dq_results)}")
        for table, ref in self.ref["gold"].items():
            n = result.gold_counts.get(table)
            if n != ref["rows"]:
                problems.append(f"gold {table}: {n} rows, reference {ref['rows']}")
                continue
            cols = ", ".join(f'"{c}"' for c in ref["columns"])
            got = oracles.sql_result(
                self.con,
                f"SELECT {cols} FROM read_parquet('{wh}/gold/{table}/**/*.parquet', "
                "hive_partitioning = true, hive_types_autocast = true)",
            )
            if oracles.digest(*got) != ref["digest"]:
                problems.append(f"gold {table}: digest differs from reference")
        for k, cols, rows in served:
            p = self.requests[k]
            if oracles.digest(cols, rows) != oracles.request_reference(self.con, p["name"], p):
                problems.append(f"request {k} ({p['name']}): differs from reference")
        if problems:
            raise CheckFailed("; ".join(problems))

    def after_op(self) -> None:
        for wh in self.warehouses:
            shutil.rmtree(wh, ignore_errors=True)
        self.warehouses.clear()


# --------------------------------------------------------------------- curation
class Curation(Workload):
    """One pass over the curation and iterative jobs, in a fresh session
    (a batch pass is launched per corpus refresh, so it is not warmed)."""

    name = "curation"

    def references(self, con) -> None:
        self.ref = oracles.curation_reference(con, list(CURATION_JOBS))

    def op(self, i: int) -> list[tuple[str, float]]:
        from ecommerce_lakehouse_platform_spark import registry

        timings, outputs = [], {}
        for job in CURATION_JOBS:
            t0 = time.perf_counter()
            with self.tracer.span(f"curation.{job}") as rec:
                outputs[job] = _rows(registry.QUERIES[job](self.spark, self.in_dir))
            if rec is not None:
                rec["rows"] = len(outputs[job][1])
            timings.append((f"job.{job}", time.perf_counter() - t0))
        bad = [j for j, out in outputs.items() if oracles.digest(*out) != self.ref[j]]
        if bad:
            raise CheckFailed(f"jobs differ from their registry oracles: {bad}")
        return timings


# --------------------------------------------------------------------- incremental
ORDER_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ]
)


class Incremental(Workload):
    """Daily increments into one Delta-protocol table of orders."""

    def __init__(self, *a, **k):
        from ecommerce_lakehouse_platform_spark.sources.deltalog import MiniDeltaTable
        from ecommerce_lakehouse_platform_spark.streaming.delta_sink import delta_append_batch

        super().__init__(*a, **k)
        # the first append creates the table (the sink overwrites when no
        # table exists)
        self.table = MiniDeltaTable(self.spark, os.path.join(self.root, "orders_delta"))
        self.sink = delta_append_batch(self.table, APP_ID)
        self.commit_versions: list[int] = []
        self.input_bytes = 0
        self.history_bytes = 0
        self.cycles = 0
        self.replays_attempted = 0
        self.replays_skipped = 0

    def _plan_increments(self) -> None:
        """Land every increment's files and fold the reference state,
        all from the seed: the base orders are cut into daily batches
        (order keys shifted per pass when the batches run out)."""
        rng = np.random.default_rng([self.seed, 2])
        orders = pq.read_table(os.path.join(self.in_dir, "orders.parquet")).cast(ORDER_SCHEMA)
        orders = orders.sort_by("o_orderdate")
        n = orders.num_rows
        per_batch = n // 25
        key_span = int(np.max(orders.column("o_orderkey").to_numpy())) + 1
        self.landing = os.path.join(self.root, "landing")
        os.makedirs(self.landing, exist_ok=True)
        fold = oracles.OrdersFold(ORDER_SCHEMA.names)
        self.steps = []
        for b in range(MAX_INCREMENTS):
            lap, j = divmod(b, 25)
            batch = orders.slice(j * per_batch, per_batch)
            if lap:
                keys = np.asarray(batch.column("o_orderkey").to_numpy()) + lap * key_span
                batch = batch.set_column(0, "o_orderkey", pa.array(keys, pa.int64()))
            path = os.path.join(self.landing, f"batch-{b}.parquet")
            pq.write_table(batch, path)
            rows = [tuple(r.values()) for r in batch.to_pylist()]
            diff = fold.append(rows)
            step = {"batch": path, "replay": b > 0 and rng.random() < REPLAY_SHARE, "merge": None}
            if (b + 1) % MERGE_EVERY == 0:
                live = sorted(fold.rows)
                pick = rng.choice(len(live), size=min(20, len(live)), replace=False)
                upd = []
                for idx in sorted(pick):
                    r = fold.rows[live[idx]]
                    price = round(r[3] * float(rng.uniform(0.8, 1.2)), 2)
                    upd.append((r[0], r[1], "F", price, r[4], r[5]))
                fresh_key = (lap + 1) * key_span * 10 + b * 100
                for m in range(5):
                    base = rows[m % len(rows)]
                    upd.append((fresh_key + m, base[1], "O", base[3], base[4], base[5]))
                mpath = os.path.join(self.landing, f"merge-{b}.parquet")
                pq.write_table(
                    pa.Table.from_pylist([dict(zip(ORDER_SCHEMA.names, u)) for u in upd], ORDER_SCHEMA),
                    mpath,
                )
                for row, k in fold.upsert(upd).items():
                    diff[row] = diff.get(row, 0) + k
                step["merge"] = mpath
            step["expected_agg"] = fold.aggregate()
            step["expected_diff"] = {r: k for r, k in diff.items() if k}
            self.steps.append(step)

    def references(self, con) -> None:
        # the fold is the per-step reference; the final snapshot is
        # also restated in DuckDB from the landed files (latest write
        # per key wins)
        self.con = con
        self._plan_increments()

    def _duckdb_final(self, n: int) -> str:
        parts = []
        for b, step in enumerate(self.steps[:n]):
            parts.append(f"SELECT *, {2 * b} AS seq FROM '{step['batch']}'")
            if step["merge"]:
                parts.append(f"SELECT *, {2 * b + 1} AS seq FROM '{step['merge']}'")
        cols = ", ".join(ORDER_SCHEMA.names)
        sql = (
            f"SELECT {cols} FROM ({' UNION ALL '.join(parts)}) "
            f"QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) = 1"
        )
        return oracles.digest(*oracles.sql_result(self.con, sql))

    def prepare(self) -> None:
        """Commit the first ``HISTORY_CYCLES`` cycles' appends and upserts
        (no reads); the first append creates the table."""
        for b in range(HISTORY_CYCLES * MERGE_EVERY):
            step = self.steps[b]
            self.sink(self.spark.read.parquet(step["batch"]), b)
            if step["merge"]:
                self.table.merge(self.spark.read.parquet(step["merge"]), ["o_orderkey"], prune_files=True)
            self.commit_versions.append(self.table.versions()[-1])
        self.cycles = HISTORY_CYCLES
        self.history_bytes = _dir_bytes(self.table.path)

    def op(self, i: int) -> list[tuple[str, float]]:
        """One cycle of ``MERGE_EVERY`` daily increments (the last one
        carries the upsert), so every cycle does the same work."""
        timings = []
        for b in range(self.cycles * MERGE_EVERY, (self.cycles + 1) * MERGE_EVERY):
            timings += self.increment(b)
        self.cycles += 1
        return timings

    def increment(self, b: int) -> list[tuple[str, float]]:
        from pyspark.sql import functions as F

        if b >= len(self.steps):
            raise RuntimeError("increment plan exhausted; raise MAX_INCREMENTS")
        step = self.steps[b]
        table, spark, tr = self.table, self.spark, self.tracer
        timings = []
        v_before = table.versions()[-1]

        t0 = time.perf_counter()
        with tr.span("streaming.delta_sink.append"):
            self.sink(spark.read.parquet(step["batch"]), b)
        timings.append(("commit.append", time.perf_counter() - t0))
        if step["replay"]:
            v = table.versions()[-1]
            with tr.span("streaming.delta_sink.replay"):
                self.sink(spark.read.parquet(self.steps[b - 1]["batch"]), b - 1)
            self.replays_attempted += 1
            self.replays_skipped += table.versions()[-1] == v
        if step["merge"]:
            t0 = time.perf_counter()
            with tr.span("perfbench.merge"):
                table.merge(spark.read.parquet(step["merge"]), ["o_orderkey"], prune_files=True)
            timings.append(("commit.merge", time.perf_counter() - t0))

        t0 = time.perf_counter()
        with tr.span("perfbench.snapshot_read"):
            agg = table.read().agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("total"),
            ).collect()[0]
        timings.append(("read.snapshot", time.perf_counter() - t0))

        v_after = table.versions()[-1]
        t0 = time.perf_counter()
        with tr.span("perfbench.changes_read"):
            changes = table.changes(v_before + 1, v_after).collect()
        timings.append(("read.changes", time.perf_counter() - t0))

        self.input_bytes += os.path.getsize(step["batch"])
        if step["merge"]:
            self.input_bytes += os.path.getsize(step["merge"])
        self._check(step, agg, changes, v_after)
        return timings

    def _check(self, step, agg, changes, version) -> None:
        problems = []
        n, total = step["expected_agg"]
        if agg["n"] != n or agg["total"] != decimal.Decimal(total):
            problems.append(f"snapshot ({agg['n']}, {agg['total']}) != reference ({n}, {total})")
        net: dict[tuple, int] = {}
        for r in changes:
            row = oracles.normalize(ORDER_SCHEMA.names, [[r[c] for c in ORDER_SCHEMA.names]])[1][0]
            sign = {"insert": 1, "delete": -1}.get(r["_change_type"])
            if sign is None:
                problems.append(f"unexpected change type {r['_change_type']}")
                break
            net[row] = net.get(row, 0) + sign
        net = {k: v for k, v in net.items() if v}
        if net != step["expected_diff"]:
            problems.append("change feed does not fold to the snapshot difference")
        self.commit_versions.append(version)
        if problems:
            raise CheckFailed("; ".join(problems))

    def final_check(self) -> None:
        """Whole-table comparison with the DuckDB fold (untimed)."""
        if not self.commit_versions:
            return
        cols, rows = _rows(self.table.read())
        keys = [r[cols.index("o_orderkey")] for r in rows]
        if len(keys) != len(set(keys)):
            raise CheckFailed("replayed batch ids produced duplicate order keys")
        rows = [tuple(r[cols.index(c)] for c in ORDER_SCHEMA.names) for r in rows]
        if oracles.digest(ORDER_SCHEMA.names, rows) != self._duckdb_final(len(self.commit_versions)):
            raise CheckFailed("final snapshot differs from the DuckDB fold")
        if self.replays_skipped != self.replays_attempted:
            raise CheckFailed(
                f"{self.replays_attempted - self.replays_skipped} replayed batch ids were committed"
            )

    def summary(self) -> dict:
        log_dir = os.path.join(self.table.path, "_delta_log")
        self.bytes_written = _dir_bytes(self.table.path) - self.history_bytes
        return {
            "log_bytes": _dir_bytes(log_dir),
            "replays_attempted": self.replays_attempted,
            "replays_skipped": self.replays_skipped,
        }


# ------------------------------------------------------------------- lakehouse
class Lakehouse(Workload):
    """A lakehouse day: the medallion refresh, the dashboards served from
    it, then a cycle of increments into the orders Delta table.

    The refresh and the Delta cycle share one run because every run
    starts a fresh JVM and pays a cold first refresh; the trace splits
    the operation by layer."""

    name = "lakehouse"

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.medallion = Medallion(*a, **k)
        self.incremental = Incremental(*a, **k)

    def references(self, con) -> None:
        self.medallion.references(con)
        self.incremental.references(con)

    def prepare(self) -> None:
        self.incremental.prepare()

    def op(self, i: int) -> list[tuple[str, float]]:
        return self.medallion.op(i) + self.incremental.op(i)

    def after_op(self) -> None:
        self.medallion.after_op()

    def final_check(self) -> None:
        self.incremental.final_check()

    def summary(self) -> dict:
        return self.incremental.summary()


WORKLOADS = {w.name: w for w in (Lakehouse, Curation)}
