"""Spans for the traced run, recorded only from the benchmark's files.

:class:`Tracer.install` wraps the program entry points the workloads
reach — the names ``run_pipeline`` resolves (``write_table``,
``read_table``, ``table_counts``, ``expect``, the ``silver.*`` and
``gold.*`` models), the dashboard functions, the registry callables of
the curation jobs and the ``MiniDeltaTable`` methods — for the measured
loop only; :meth:`Tracer.uninstall` restores them. The timed run never
installs anything.

Every span records its name, start, end and parent, and sets a Spark
job group. After the loop the tracer reads each group's jobs, stages,
tasks, shuffle and spill bytes from Spark's status store, and the scan
and join row/file counts of the SQL executions those jobs belong to.
Spans stay in memory and are written out with the run's result.
"""

from __future__ import annotations

import contextlib
import functools
import os
import re
import statistics
import time

from .workloads import CURATION_JOBS, DASHBOARDS, JOB_OPERATOR

SILVER = ("customers", "orders", "order_items", "events", "products")
GOLD = ("daily_metrics", "product_metrics", "product_funnel", "session_metrics", "customer_360")
OPERATORS = tuple(dict.fromkeys(JOB_OPERATOR.values()))

# Layers whose self time is reported; a span belongs to the first layer
# its name starts with.
LAYERS = (
    "perfbench",
    "plans.pipeline",
    "plans.silver",
    "plans.gold",
    "plans.dashboards",
    "operators.dq",
    "operators.curation",
    "sources.writers",
    "sources.deltalog",
    "streaming.delta_sink",
)


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run prints, in order."""
    names = [
        "run_s",
        "op_cpu_s",
        "refresh_s",
        "request_p50_s",
        "request_tail_s",
        "pass_s",
        "commit_p50_s",
        "commit_tail_s",
        "read_p50_s",
        "read_tail_s",
        "bytes_written_per_input_byte",
        "delta_bytes_written_per_input_byte",
        "failed_frac",
        "sources.writers.write_s",
        "sources.writers.files_written",
        "sources.writers.partitions_written",
        "sources.writers.bytes_written",
        "sources.writers.read_s",
        "sources.writers.count_s",
    ]
    names += [f"plans.silver.{t}_s" for t in SILVER]
    names += [f"plans.gold.{t}_s" for t in GOLD]
    names += ["operators.dq.s"]
    names += [f"plans.dashboards.{d}_s" for d in DASHBOARDS]
    names += ["plans.dashboards.files_read_per_file_listed"]
    for op in OPERATORS:
        names += [f"operators.{op}.{m}" for m in ("s", "jobs", "stages", "shuffle_bytes", "spill_bytes")]
    names += ["operators.neardup.verified_per_candidate"]
    names += [
        "sources.deltalog.commit_s",
        "sources.deltalog.snapshot_s",
        "sources.deltalog.checkpoint_s",
        "sources.deltalog.changes_s",
        "sources.deltalog.log_bytes",
        "streaming.delta_sink.append_s",
        "streaming.delta_sink.replays_skipped",
        "spark.jobs",
        "spark.stages",
        "spark.tasks",
    ]
    names += [f"{layer}.self_s" for layer in LAYERS]
    names += ["trace.uncovered_share", "trace.overhead_s"]
    return names


def unit_of(metric: str) -> str:
    if metric.endswith(("_s", ".s")):
        return "s"
    if metric.endswith(("bytes", "bytes_written")):
        return "bytes"
    if metric.endswith(("_frac", "_share", "_per_input_byte", "_per_file_listed", "_per_candidate")):
        return "ratio"
    return "count"


def layer_of(name: str) -> str:
    if name.startswith("curation."):
        return "operators.curation"
    for layer in LAYERS:
        if name.startswith(layer + "."):
            return layer
    return "perfbench"


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of it its children cover
    (children of one parent do not overlap: one client thread)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [s["end"] - s["start"] - c for s, c in zip(spans, child)]


def uncovered(spans: list[dict], run_s: float) -> float:
    """Seconds of the run no root span covers."""
    return run_s - sum(s["end"] - s["start"] for s in spans if s["parent"] is None)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.patches: list[tuple[object, str, object]] = []
        # bookkeeping time inside the measured loop, and the time to read
        # the status store after it
        self.overhead_s = 0.0
        self.collect_s = 0.0

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self.stack[-1] if self.stack else None
        idx = len(self.spans)
        rec = {"name": name, "parent": parent, "group": f"perfbench-span-{idx}", **attrs}
        self.spans.append(rec)
        self.stack.append(idx)
        sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(self.spans[parent]["group"], self.spans[parent]["name"])
            self.overhead_s += time.perf_counter() - rec["end"]

    def _wrap(self, owner, attr: str, name_of, after=None) -> None:
        original = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name_of(*args, **kwargs)) as rec:
                out = original(*args, **kwargs)
            if after is not None:
                t0 = time.perf_counter()
                after(rec, *args, **kwargs)
                tracer.overhead_s += time.perf_counter() - t0
            return out

        self.patches.append((owner, attr, original))
        _set(owner, attr, wrapper)

    def install(self) -> None:
        from ecommerce_lakehouse_platform_spark import registry
        from ecommerce_lakehouse_platform_spark.plans import dashboards, gold, pipeline, silver
        from ecommerce_lakehouse_platform_spark.sources.deltalog import MiniDeltaTable

        def fixed(name):
            return lambda *a, **k: name

        def write_name(df, path, *a, **k):
            return "sources.writers.write_table"

        def after_write(rec, df, path, *a, **k):
            rec["path"] = path
            rec["table"] = "/".join(path.rstrip("/").split("/")[-2:])
            rec["files"], rec["partitions"], rec["bytes"] = _data_files(path)

        def after_read(rec, spark, path, *a, **k):
            rec["path"] = path
            rec["files"] = _data_files(path)[0]

        self._wrap(pipeline, "run_pipeline", fixed("plans.pipeline.run_pipeline"))
        self._wrap(pipeline, "write_table", write_name, after_write)
        self._wrap(pipeline, "read_table", fixed("sources.writers.read_table"), after_read)
        self._wrap(pipeline, "table_counts", fixed("sources.writers.table_counts"))
        self._wrap(pipeline, "expect", fixed("operators.dq.expect"))
        for fn in ("silver_customers", "silver_orders", "silver_order_items", "silver_events", "silver_products"):
            self._wrap(silver, fn, fixed(f"plans.silver.{fn}"))
        for fn in (
            "gold_daily_metrics",
            "gold_product_metrics",
            "gold_product_funnel",
            "gold_session_metrics",
            "gold_customer_360",
        ):
            self._wrap(gold, fn, fixed(f"plans.gold.{fn}"))
        from ecommerce_lakehouse_platform_spark.sources import writers

        self._wrap(writers, "read_table", fixed("sources.writers.read_table"), after_read)
        for fn in ("product_performance", "sales_overview", "site_wide_funnel", "customer_360_dashboard"):
            self._wrap(dashboards, fn, fixed(f"plans.dashboards.{fn}"))
        for job in CURATION_JOBS:
            self._wrap(registry.QUERIES, job, fixed(f"operators.curation.registry.{job}"))
        for method in ("write", "merge", "snapshot", "checkpoint", "changes", "read"):
            self._wrap(MiniDeltaTable, method, fixed(f"sources.deltalog.{method}"))

    def uninstall(self) -> None:
        while self.patches:
            _set(*self.patches.pop())

    # -- Spark status store ---------------------------------------------------
    def collect_spark(self) -> None:
        """Attach jobs/stages/tasks/shuffle/spill (own job group only)
        and SQL node metrics to every span."""
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        jvm = sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = sc._jsc.sc().statusStore()
        jtracker = sc._jsc.statusTracker()
        empty_status = jvm.java.util.ArrayList()
        empty_q = sc._gateway.new_array(jvm.double, 0)
        job_span: dict[int, int] = {}
        for idx, s in enumerate(self.spans):
            # one py4j call per array instead of one per element
            jobs = _ints(jvm.java.util.Arrays.toString(jtracker.getJobIdsForGroup(s["group"])))
            stages = set()
            for j in jobs:
                job_span[j] = idx
                info = jtracker.getJobInfo(j)
                if info is not None:
                    stages.update(_ints(jvm.java.util.Arrays.toString(info.stageIds())))
            ran = []
            for sid in stages:
                data = conv.asJava(store.stageData(sid, False, empty_status, False, empty_q))
                ran += [d for d in data if d.status().toString() != "SKIPPED"]
            s["spark"] = {
                "jobs": len(jobs),
                "stages": len(ran),
                "tasks": sum(d.numTasks() for d in ran),
                "shuffle_bytes": sum(d.shuffleReadBytes() + d.shuffleWriteBytes() for d in ran),
                "spill_bytes": sum(d.memoryBytesSpilled() + d.diskBytesSpilled() for d in ran),
            }
        # SQL node metrics only where a metric needs them: the dashboard
        # requests' scans and the MinHash job's joins
        wanted = set()
        for idx, s in enumerate(self.spans):
            if s["name"].startswith("perfbench.request.") or s["name"] == "curation.ext_dedup_minhash_lsh":
                wanted |= {idx, *_descendants(self.spans, idx)}
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        for ex in conv.asJava(sql_store.executionsList()):
            jobs = _ints(ex.jobs().keys().mkString(","))
            owners = {job_span[j] for j in jobs if j in job_span} & wanted
            if not owners:
                continue
            eid = ex.executionId()
            dot = sql_store.planGraph(eid).makeDotFile(sql_store.executionMetrics(eid))
            nodes = _dot_nodes(dot)
            for idx in owners:
                self.spans[idx].setdefault("sql", []).extend(nodes)
        self.collect_s = time.perf_counter() - t0

    # -- reporting ---------------------------------------------------------------
    def report(self, run_s: float) -> dict:
        selfs = self_times(self.spans)
        return {
            "spans": [
                {k: v for k, v in s.items() if k != "sql"} | {"self_s": st}
                for s, st in zip(self.spans, selfs)
            ],
            "run_s": run_s,
            "uncovered_s": uncovered(self.spans, run_s),
            "overhead_s": self.overhead_s,
            "collect_s": self.collect_s,
        }

    def layer_metrics(self, run_s: float, named: dict, summary: dict) -> dict:
        """Every per-layer metric (0 where the workload has no such span),
        from the spans, the status store and the run's named metrics."""
        self.collect_spark()
        spans, selfs = self.spans, self_times(self.spans)
        values: dict[str, float] = dict.fromkeys(per_layer_names(), 0.0)
        values["run_s"] = run_s
        for key in (
            "op_cpu_s",
            "refresh_s",
            "request_p50_s",
            "request_tail_s",
            "pass_s",
            "commit_p50_s",
            "commit_tail_s",
            "read_p50_s",
            "read_tail_s",
            "bytes_written_per_input_byte",
            "delta_bytes_written_per_input_byte",
            "failed_frac",
        ):
            if named.get(key) is not None:
                values[key] = named[key]
            elif key.endswith("_tail_s") and named.get(key.replace("_tail_s", "_max_s")) is not None:
                values[key] = named[key.replace("_tail_s", "_max_s")]

        def dur(s):
            return s["end"] - s["start"]

        def total(pred) -> float:
            return sum(dur(s) for s in spans if pred(s))

        writes = [s for s in spans if s["name"] == "sources.writers.write_table"]
        values["sources.writers.write_s"] = sum(dur(s) for s in writes)
        values["sources.writers.files_written"] = sum(s.get("files", 0) for s in writes)
        values["sources.writers.partitions_written"] = sum(s.get("partitions", 0) for s in writes)
        values["sources.writers.bytes_written"] = sum(s.get("bytes", 0) for s in writes)
        values["sources.writers.read_s"] = total(lambda s: s["name"] == "sources.writers.read_table")
        values["sources.writers.count_s"] = total(lambda s: s["name"] == "sources.writers.table_counts")
        for layer, tables in (("silver", SILVER), ("gold", GOLD)):
            for t in tables:
                values[f"plans.{layer}.{t}_s"] = sum(
                    dur(s) for s in writes if s.get("table") == f"{layer}/{t}"
                )
        values["operators.dq.s"] = total(lambda s: s["name"] == "operators.dq.expect")

        read_files = listed_files = 0
        for d in DASHBOARDS:
            reqs = [s for s in spans if s["name"] == f"perfbench.request.{d}"]
            if reqs:
                values[f"plans.dashboards.{d}_s"] = statistics.median(dur(s) for s in reqs)
            for s in reqs:
                kids = _descendants(spans, spans.index(s))
                listed_files += sum(spans[k].get("files", 0) for k in kids if spans[k]["name"] == "sources.writers.read_table")
                read_files += sum(
                    n["metrics"].get("number of files read", 0)
                    for k in [spans.index(s), *kids]
                    for n in spans[k].get("sql", [])
                )
        if listed_files:
            values["plans.dashboards.files_read_per_file_listed"] = read_files / listed_files

        for job in CURATION_JOBS:
            op = JOB_OPERATOR[job]
            for s in spans:
                if s["name"] != f"curation.{job}":
                    continue
                idx = spans.index(s)
                values[f"operators.{op}.s"] += dur(s)
                for k in (idx, *_descendants(spans, idx)):
                    sp = spans[k].get("spark", {})
                    values[f"operators.{op}.jobs"] += sp.get("jobs", 0)
                    values[f"operators.{op}.stages"] += sp.get("stages", 0)
                    values[f"operators.{op}.shuffle_bytes"] += sp.get("shuffle_bytes", 0)
                    values[f"operators.{op}.spill_bytes"] += sp.get("spill_bytes", 0)
                if job == "ext_dedup_minhash_lsh":
                    joins = [
                        n["metrics"].get("number of output rows", 0)
                        for k in (idx, *_descendants(spans, idx))
                        for n in spans[k].get("sql", [])
                        if "Join" in n["name"]
                    ]
                    if joins and max(joins) and s.get("rows") is not None:
                        values["operators.neardup.verified_per_candidate"] = s["rows"] / max(joins)

        commit_names = {"sources.deltalog.write", "sources.deltalog.merge"}
        values["sources.deltalog.commit_s"] = sum(
            dur(s) for i, s in enumerate(spans) if s["name"] in commit_names and not _inside(spans, i, commit_names)
        )
        for m in ("snapshot", "checkpoint", "changes"):
            names = {f"sources.deltalog.{m}"}
            values[f"sources.deltalog.{m}_s"] = sum(
                dur(s) for i, s in enumerate(spans) if s["name"] in names and not _inside(spans, i, names)
            )
        values["sources.deltalog.log_bytes"] = summary.get("log_bytes", 0)
        values["streaming.delta_sink.append_s"] = total(lambda s: s["name"] == "streaming.delta_sink.append")
        values["streaming.delta_sink.replays_skipped"] = summary.get("replays_skipped", 0)

        for s in spans:
            for k in ("jobs", "stages", "tasks"):
                values[f"spark.{k}"] += s.get("spark", {}).get(k, 0)
        for s, st in zip(spans, selfs):
            values[f"{layer_of(s['name'])}.self_s"] += st
        values["trace.uncovered_share"] = uncovered(spans, run_s) / run_s
        values["trace.overhead_s"] = self.overhead_s
        return {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}


def _set(owner, attr: str, value) -> None:
    if isinstance(owner, dict):
        owner[attr] = value
    else:
        setattr(owner, attr, value)


def _descendants(spans: list[dict], idx: int) -> list[int]:
    out, frontier = [], {idx}
    for i in range(idx + 1, len(spans)):
        if spans[i]["parent"] in frontier:
            frontier.add(i)
            out.append(i)
    return out


def _inside(spans: list[dict], idx: int, names: set[str]) -> bool:
    p = spans[idx]["parent"]
    while p is not None:
        if spans[p]["name"] in names:
            return True
        p = spans[p]["parent"]
    return False


def _data_files(path: str) -> tuple[int, int, int]:
    """(parquet data files, partition directories, bytes) under ``path``."""
    files = parts = size = 0
    for root, dirs, names in os.walk(path):
        if root != path and "=" in os.path.basename(root):
            parts += 1
        for n in names:
            if n.endswith(".parquet"):
                files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, parts, size


def _ints(text: str) -> list[int]:
    return [int(t) for t in text.strip("[]").replace(",", " ").split()]


def _dot_nodes(dot: str) -> list[dict]:
    """Plan nodes and their metric values from a plan graph's DOT text,
    whose node labels read ``<b>Name</b><br><br>metric: value<br>...``."""
    nodes = []
    for m in re.finditer(r'label="(?:<br>)?<b>(.*?)</b>(.*?)" tooltip=', dot):
        metrics = {}
        for item in m.group(2).split("<br>"):
            name, sep, value = item.partition(": ")
            if sep:
                metrics[name] = _metric_number(value.replace("\\n", " "))
        nodes.append({"name": m.group(1), "metrics": metrics})
    return nodes


def _metric_number(text: str) -> float:
    """First number of a status-store metric string ("24", "1.2 KiB",
    "total (min, med, max ...)\\n3.0 s (...)")."""
    for token in text.replace("\n", " ").replace(",", "").split():
        try:
            return float(token)
        except ValueError:
            continue
    return 0.0
