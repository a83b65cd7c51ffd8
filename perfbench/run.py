"""Lakehouse benchmark runner.

Run from the repository root::

    python3 perfbench/run.py --workload lakehouse --seed 1 --seconds 5 --trace 0

One closed-loop client in one driver process on ``local[N]`` (N is the
host's core count unless ``--cores`` asks for fewer). The runner
generates the seed's inputs, computes the references, sets up, then
repeats the workload's operation until ``--seconds`` have passed (at
least one operation). Every output is checked.

Standard output ends with two JSON lines: a detail record (inputs'
properties, core counts, every operation's timings, the named metrics
and, when traced, the span table) and the result line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the program's
entry points are wrapped in spans and the metrics are the per-layer
ones. Everything the run writes lives under ``.perfbench_tmp/`` in the
repository root and is removed when it ends.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETUP_REPEATS = 3
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
# printed by an untraced run, in this order
E2E_METRICS = ("setup_s", "op_cost", "peak_rss_mb")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None, help="local[N]; at most the host's cores")
    return ap.parse_args(argv)


def host_cores() -> int:
    """Cores this process may run on, as an int (``nproc`` without the
    OMP_NUM_THREADS override)."""
    return len(os.sched_getaffinity(0))


def tail(values: list[float]) -> tuple[float | None, int | None]:
    """Highest integer percentile with at least ten samples above it,
    and its value; ``(None, None)`` with fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return None, None
    xs = sorted(values)
    pct = (100 * (n - 10)) // n
    # nearest-rank value at pct: at least ten samples lie beyond it
    k = max(0, -(-pct * n // 100) - 1)
    return xs[k], pct


def vm_hwm_kb(pid: int | str = "self") -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def cpu_seconds(jvm_pid: int | None = None) -> float:
    """User plus system CPU time of this process and of the JVM."""
    t = os.times()
    own = t.user + t.system
    if jvm_pid is None:
        return own
    with open(f"/proc/{jvm_pid}/stat", encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return own + (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def reset_peak_rss(pid: int | str = "self") -> None:
    with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as fh:
        fh.write("5")


def configure_environment(root: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``root``."""
    local = os.path.join(root, "spark-local")
    tmp = os.path.join(root, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # A fresh, short JVM per run on megabyte inputs: a 2 GB heap with the
    # serial collector and C1 only. With the defaults, compilation and
    # concurrent GC took half an operation's CPU time and heap growth
    # swung peak RSS between runs (perfbench/README.md).
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf",
            shlex.quote(f"spark.local.dir={local}"),
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={root}/spark-warehouse"),
            "--conf spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} {JVM_OPTIONS}"),
            "pyspark-shell",
        ]
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits at EOF on stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, cores: int, root: str) -> tuple[dict, dict]:
    configure_environment(root)
    from ecommerce_lakehouse_platform_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cores, shuffle_partitions=cores)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        # the session is ready when it has run a job: the JVM's first job
        # pays class loading that no program code causes
        spark.range(1000).count()
        return _run(spark, args, cores, root, time.perf_counter() - T_START)
    finally:
        stop_spark(spark)


def _run(spark, args, cores: int, root: str, session_s: float) -> tuple[dict, dict]:
    from perfbench import inputs, oracles, workloads

    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    # CPU the JVM and Python spent starting up and running the session's
    # first job: fixed work that no program code changes, measured in the
    # same process as the operations
    start_cpu_s = cpu_seconds(jvm_pid)
    gen_s = []
    for r in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        inputs.generate(args.seed, os.path.join(root, f"inputs-{r}"))
        gen_s.append(time.perf_counter() - t0)
    in_dir = os.path.join(root, "inputs-0")
    for r in range(1, SETUP_REPEATS):
        shutil.rmtree(os.path.join(root, f"inputs-{r}"))

    # untimed: invariants of the generated inputs and the references
    con = oracles.connect(in_dir)
    props = inputs.properties(con, in_dir)
    inputs.check_invariants(props)

    tracer = None
    if args.trace:
        from perfbench import tracing

        tracer = tracing.Tracer(spark)
    wl = workloads.WORKLOADS[args.workload](spark, args.seed, root, in_dir, tracer)
    wl.references(con)
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(gen_s) + prepare_s
    os.sync()

    if tracer:
        tracer.install()
    reset_peak_rss()
    reset_peak_rss(jvm_pid)
    ops, failures, run_s = measure(wl, args.seconds, tracer, jvm_pid)
    rss_mb = {"python": vm_hwm_kb() / 1024, "jvm": vm_hwm_kb(jvm_pid) / 1024}
    peak_rss_mb = rss_mb["python"] + rss_mb["jvm"]
    if tracer:
        tracer.uninstall()

    try:
        wl.final_check()
    except Exception as exc:  # a wrong final state fails every operation
        failures.append(f"final: {type(exc).__name__}: {exc}")
        traceback.print_exc(file=sys.stderr)
        for op in ops:
            op["ok"] = False
    summary = wl.summary()
    attempted = len(ops)
    failed = sum(not op["ok"] for op in ops)

    op_cpu = [op["cpu_s"] for op in ops if op["ok"]] or [op["cpu_s"] for op in ops]
    named = named_metrics(args.workload, ops, wl, props)
    named["failed_frac"] = failed / attempted
    named["op_cpu_s"] = statistics.median(op_cpu)
    # the host's speed drifts up to 2x within minutes and moves start-up
    # and operations alike; their ratio cancels it
    op_cost = named["op_cpu_s"] / start_cpu_s
    e2e = dict(zip(E2E_METRICS, ((setup_s, "s"), (op_cost, "x"), (peak_rss_mb, "MB"))))
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": {
            "requested": cores,
            "nproc": host_cores(),
            "default_parallelism": int(spark.sparkContext.defaultParallelism),
        },
        "inputs": props,
        "setup": {"session_s": session_s, "generate_s": gen_s, "prepare_s": prepare_s},
        "start_cpu_s": start_cpu_s,
        "run_s": run_s,
        "peak_rss_mb": rss_mb,
        "ops": ops,
        "named": named,
        "summary": summary,
        "failures": failures,
    }
    if tracer:
        metrics = tracer.layer_metrics(run_s, named, summary)
        detail["spans"] = tracer.report(run_s)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return detail, result


def measure(wl, seconds: float, tracer=None, jvm_pid: int | None = None) -> tuple[list[dict], list[str], float]:
    """Closed loop: start the next operation when the previous one ends,
    until ``seconds`` have passed (at least one). An operation that
    raises — a failed output check included — counts as failed."""
    ops, failures = [], []
    t_run = time.perf_counter()
    deadline = t_run + seconds
    i = 0
    while i == 0 or time.perf_counter() < deadline:
        c0 = cpu_seconds(jvm_pid)
        t0 = time.perf_counter()
        try:
            with tracer.span(f"op.{i}") if tracer else contextlib.nullcontext():
                parts = wl.op(i)
            ops.append({"i": i, "parts": parts, "ok": True})
        except Exception as exc:
            failures.append(f"op {i}: {type(exc).__name__}: {exc}")
            traceback.print_exc(file=sys.stderr)
            ops.append({"i": i, "parts": [], "ok": False})
        ops[-1]["wall_s"] = time.perf_counter() - t0
        ops[-1]["cpu_s"] = cpu_seconds(jvm_pid) - c0
        wl.after_op()
        os.sync()  # settle page-cache writeback outside every timer
        i += 1
    return ops, failures, time.perf_counter() - t_run


def named_metrics(workload: str, ops: list[dict], wl, props: dict) -> dict:
    """Each workload's own latency metrics (refresh_s, request_*,
    commit_*, read_*, pass_s), from the ok operations' timings."""
    parts: dict[str, list[float]] = {}
    for op in ops:
        if op["ok"]:
            for kind, s in op["parts"]:
                parts.setdefault(kind, []).append(s)

    def series(prefix: str) -> list[float]:
        return [s for k, v in parts.items() if k.startswith(prefix) for s in v]

    def p50_tail(name: str, xs: list[float]) -> dict:
        if not xs:
            return {}
        value, pct = tail(xs)
        return {
            f"{name}_p50_s": statistics.median(xs),
            f"{name}_tail_s": value,
            f"{name}_tail_pct": pct,
            f"{name}_max_s": max(xs),
            f"{name}_n": len(xs),
        }

    out: dict = {}
    ok = [op for op in ops if op["ok"]]
    if workload == "lakehouse":
        if parts.get("refresh"):
            out["refresh_s"] = statistics.median(parts["refresh"])
        out.update(p50_tail("request", series("request.")))
        out.update(p50_tail("commit", series("commit.")))
        out.update(p50_tail("read", series("read.")))
        if ok:
            out["bytes_written_per_input_byte"] = wl.medallion.bytes_written / (
                props["input_bytes"] * len(ok)
            )
        if wl.incremental.input_bytes:
            out["delta_bytes_written_per_input_byte"] = (
                wl.incremental.bytes_written / wl.incremental.input_bytes
            )
    elif workload == "curation":
        passes = [sum(s for _, s in op["parts"]) for op in ok]
        if passes:
            out["pass_s"] = statistics.median(passes)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    nproc = host_cores()
    cores = nproc if args.cores is None else args.cores
    if not 1 <= cores <= nproc:
        print(f"perfbench: local[{cores}] refused: this host has {nproc} cores", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    try:
        from perfbench import workloads

        import ecommerce_lakehouse_platform_spark.plans.pipeline  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.path.join(REPO, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(root)
    try:
        detail, result = run(args, cores, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass  # another run still owns the directory
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
