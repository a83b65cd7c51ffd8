"""Delta and streaming: the mini Delta-protocol log under the oracle
gate, compaction planning, and the bounded Structured Streaming
queries.

The reference's core sink is a managed Delta table written as a full
overwrite with schema evolution enabled
(``format("delta").mode("overwrite").option("overwriteSchema","true")``),
which buys it atomic versioned commits, time travel, and change-data
capture. :mod:`..sources.deltalog` implements those behaviors against
the PUBLIC Delta transaction-log protocol (delta-spark is absent in
this runtime); the ``ext_delta_*`` queries run the reference's own sink
sequence through that log and check the READ-BACK relations against
DuckDB oracles computed directly from the fixtures — so the table
format's core contracts (time travel reads the pre-overwrite relation
under its pre-evolution schema; the change feed folds back to the
snapshot and is blind to OPTIMIZE) are value-checked, not just
pytest-asserted.

Each of those queries' commit-history fixture is materialized under a
temp directory at most once per process (see ``_memo_fixture``); the
declared READ path (log replay, CDF fold, time-travel scan, checkpoint
recovery, stream drain) re-runs in full on every invocation. The
writes are ordinary distributed parquet writes — the log adds O(files)
metadata — so the build costs one sink pass at any scale, which is
exactly what it models.

The ``stream_*`` queries run real streaming plans (stream-stream
interval joins, windowed and stateful sessionization, exactly-once
dedup, dedup-index maintenance, the change-feed source) over bounded
inputs until they drain, so each yields a relation its batch oracle
can check.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans import silver
from ..plans.silver import silver_events
from ..sources.deltalog import MiniDeltaTable
from ..streaming.sessions import session_rollup
from ..streaming.stateful import run_stateful_sessions_bounded
from ._core import _t, query


# temp tables from PRIOR invocations in this process, reaped lazily on
# the next call (the prior result DataFrame has been consumed by then —
# bench/driver fully materialize each run before re-invoking; deleting
# at return would break the laziness contract of the returned plan)
_PREVIOUS_DIRS: list[str] = []


def _reap_at_exit() -> None:
    """The lazy reaper always leaves each process's LAST table on disk
    (~GB at sf1 — the full silver relation, several versions); without
    this hook every bench/differential process leaks one."""
    while _PREVIOUS_DIRS:
        shutil.rmtree(_PREVIOUS_DIRS.pop(), ignore_errors=True)


def _reap_orphans() -> None:
    """Delete minidelta temp tables left by DEAD processes (a killed
    bench run never reaches atexit). Dir names carry the owning pid
    (see _fresh_dir); liveness-probe with signal 0. Dirs without the
    pid marker are left alone — an age gate can delete a live table
    out from under a long run still using the previous name format,
    and such dirs age out of existence once every writer is upgraded.
    Pid-reuse can make a dead run's dir look owned (it then leaks
    until that pid dies), which is the safe side of the trade."""
    tmp = tempfile.gettempdir()
    try:
        names = os.listdir(tmp)
    except OSError:
        return
    for name in names:
        if not name.startswith("minidelta_"):
            continue
        m = re.match(r"minidelta_\w+?_p(\d+)_", name)
        if not m:
            continue
        pid = int(m.group(1))
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)
            continue  # owner alive — not ours to touch
        except ProcessLookupError:
            pass
        except PermissionError:
            continue  # alive under another uid
        shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)


def _fresh_dir(prefix: str) -> str:
    global _ORPHANS_REAPED
    if not _ORPHANS_REAPED:
        # reap on first use, not at import: importing the registry
        # must not touch the filesystem as a side effect
        _ORPHANS_REAPED = True
        _reap_orphans()
    while _PREVIOUS_DIRS:
        shutil.rmtree(_PREVIOUS_DIRS.pop(), ignore_errors=True)
    base = tempfile.mkdtemp(prefix=f"{prefix}p{os.getpid()}_")
    _PREVIOUS_DIRS.append(base)
    return base


atexit.register(_reap_at_exit)


_ORPHANS_REAPED = False


# ---------------------------------------------------------------------------
# Per-process fixture-build memo (r14 optimization round; the r13
# verdict's item 4). Before r14 every invocation of a sink query
# rebuilt its whole multi-commit fixture table (several distributed
# writes + OPTIMIZE + DV delete), so the bench's timed region measured
# mostly the harness's table CONSTRUCTION, not the read path the query
# declares and the oracle checks. The commit history is a
# deterministic pure function of the fixture parquet inputs, so it is
# now built at most ONCE PER PROCESS per (query, sf_dir) — a setup
# phase, not result caching: every invocation still replays the
# transaction log from disk, scans the table's real parquet files, and
# computes the declared relation from them in full, and the oracle
# hash is unchanged. Within the bench's 3 timed runs, run 1 pays the
# build and the median therefore times the READ path — exactly the
# measurement split the verdict ordered ("stop re-optimizing reads
# against a number dominated by setup"). Memoized dirs are reaped at
# process exit; they deliberately do NOT join _PREVIOUS_DIRS, whose
# lazy reaper deletes on the next _fresh_dir call.
# ---------------------------------------------------------------------------
_FIXTURE_MEMO: dict[tuple[str, str], str] = {}


_MEMO_DIRS: list[str] = []


def _reap_memo_at_exit() -> None:
    while _MEMO_DIRS:
        shutil.rmtree(_MEMO_DIRS.pop(), ignore_errors=True)


atexit.register(_reap_memo_at_exit)


def _has_table_files(path: str) -> bool:
    """True when ``path`` holds a ``_delta_log`` and at least one data
    file outside it (partition directories included)."""
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        return False
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != "_delta_log"]
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _memo_fixture(tag: str, sf_dir: str, build) -> str:
    """Table path for ``(tag, sf_dir)``, built with ``build(path)`` on
    first use in this process. A vanished or partly cleaned dir
    (external cleanup removed the log or the data files) rebuilds
    rather than failing the read."""
    global _ORPHANS_REAPED
    key = (tag, sf_dir)
    path = _FIXTURE_MEMO.get(key)
    if path is not None and _has_table_files(path):
        return path
    if not _ORPHANS_REAPED:
        _ORPHANS_REAPED = True
        _reap_orphans()
    base = tempfile.mkdtemp(prefix=f"minidelta_{tag}_p{os.getpid()}_")
    path = os.path.join(base, "orders")
    try:
        build(path)
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise
    _MEMO_DIRS.append(base)
    _FIXTURE_MEMO[key] = path
    return path


# the silver-orders relation both queries sink (the raw timestamp is
# excluded per the registry determinism rules; same projection as
# op_project_silver_orders)
_SILVER_ORDERS_SQL = """
      SELECT
        CAST(o_orderkey AS VARCHAR) AS order_id,
        CAST(o_custkey AS VARCHAR) AS customer_id,
        o_orderstatus AS status,
        o_orderpriority AS priority,
        o_totalprice AS total_usd,
        CAST(o_orderdate AS DATE) AS order_date
      FROM orders
      WHERE o_orderkey IS NOT NULL
"""


def _silver_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return silver.silver_orders(_t(spark, sf_dir, "orders")).drop("order_ts")


@query(
    "ext_delta_time_travel",
    # v0 is the plain silver relation; the overwrite that follows both
    # filters the rows AND evolves the schema, so a read that wrongly
    # resolved to latest fails on rows, values, AND schema at once.
    oracle=f"""
    SELECT * FROM ({_SILVER_ORDERS_SQL})
    """,
)
def ext_delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel across a schema-evolving overwrite: write silver
    orders as table version 0, overwrite with a filtered relation
    under an EVOLVED schema (the reference's ``overwriteSchema``
    contract, 02_silver_transform.py:33-35), then read ``version=0`` —
    the pre-overwrite rows under their pre-evolution schema. The
    oracle rebuilds v0 straight from the fixtures: the log replay, the
    as-of-version schema resolution, and the parquet round-trip all
    sit on the checked path."""
    def build(path: str) -> None:
        base = _silver_orders(spark, sf_dir)
        tbl = MiniDeltaTable(spark, path)
        tbl.write(base)  # v0: the reference's full-overwrite silver sink
        restated = base.filter(F.col("status") == "F").withColumn(
            "priority_flag", F.lit(True)
        )
        tbl.write(restated, overwrite_schema=True)  # v1: filtered + evolved

    path = _memo_fixture("tt", sf_dir, build)
    return MiniDeltaTable(spark, path).read(version=0)


@query(
    "ext_delta_cdf_fold",
    # Expected fold: order_id%3==0 rows survive unchanged with 3 CDF
    # events (insert v0, delete+insert v3) EXCEPT the %9==3 subset,
    # which a deletion-vector DELETE (v4) erases — the DV commit must
    # surface as exactly ONE row-level delete event per erased row
    # (netting it out) while the surviving rows SHARING its files
    # keep n_row_events = 3: a delete-all/insert-all reconstruction
    # of the DV commit would bump them to 5 and hash-mismatch. %3==1
    # rows net out and reappear RESTATED with 1 event; %3==2 rows
    # (appended v1, deleted v3) net to zero. The OPTIMIZE between v1
    # and v3 must contribute NO events (dataChange=false) or every
    # surviving row's n_row_events is off by 2.
    oracle=f"""
    WITH s AS ({_SILVER_ORDERS_SQL})
    SELECT order_id, customer_id, status, priority, total_usd,
           order_date, CAST(3 AS BIGINT) AS n_row_events
    FROM s WHERE CAST(order_id AS BIGINT) % 3 = 0
      AND CAST(order_id AS BIGINT) % 9 != 3
    UNION ALL
    SELECT order_id, customer_id, status, 'RESTATED' AS priority,
           total_usd, order_date, CAST(1 AS BIGINT) AS n_row_events
    FROM s WHERE CAST(order_id AS BIGINT) % 3 = 1
    """,
)
def ext_delta_cdf_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed fold == snapshot, with OPTIMIZE invisible and
    DELETION VECTORS composing: write two-thirds of silver orders
    (v0), append the rest (v1), compact (OPTIMIZE,
    ``dataChange=false``), overwrite with a partial restatement (v3),
    then erase a slice with a DELETION-VECTOR delete (v4 — zero files
    rewritten, positions in a per-file sidecar). Folding
    ``changes(0)`` — Σ(insert=+1, delete=−1) per row, keep net>0 —
    must reproduce the final snapshot exactly; the per-row CDF event
    count must show the compaction contributed nothing AND the DV
    commit contributed exactly one delete per erased row (rows
    sharing the DV'd files keep their count — the r9 DV-aware feed;
    Delta CDF's ``table_changes`` contract). The oracle states the
    expected net relation and event counts directly from the
    fixtures."""
    key = F.col("order_id").cast("long")

    def build(path: str) -> None:
        base = _silver_orders(spark, sf_dir)
        key_mod = key % 3
        tbl = MiniDeltaTable(spark, path)
        tbl.write(base.filter(key_mod.isin(0, 1)))  # v0
        tbl.write(base.filter(key_mod == 2), mode="append")  # v1
        # v2: compaction — a plain statement, NOT an assert: under
        # python -O an assert's side effect vanishes and the query would
        # silently stop exercising the OPTIMIZE-is-CDF-invisible contract
        optimized_version = tbl.optimize()  # ≥2 active files by construction
        if optimized_version is None:
            raise RuntimeError("OPTIMIZE found nothing to compact")
        restated = base.filter(key_mod == 0).unionByName(
            base.filter(key_mod == 1).withColumn("priority", F.lit("RESTATED"))
        )
        tbl.write(restated)  # v3: overwrite = delete-all + insert-all
        # v4: deletion-vector erase of the %9==3 slice — zero rewrites
        if tbl.delete(key % 9 == 3, use_dv=True) is None:
            raise RuntimeError("DV delete matched nothing")

    path = _memo_fixture("cdf", sf_dir, build)
    cdf = MiniDeltaTable(spark, path).changes(0)
    cols = [c for c in cdf.columns if not c.startswith("_")]
    return (
        cdf.groupBy(*cols)
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("_net"),
            F.count(F.lit(1)).alias("n_row_events"),
        )
        .filter(F.col("_net") > 0)
        .drop("_net")
    )


@query(
    "ext_delta_merge_cdf",
    # Expected fold after the MERGE (committed as a full overwrite =
    # delete-all + insert-all): %3==0 rows were in v0 and survive the
    # merge untouched → 3 CDF events (insert v0, delete+insert v1);
    # %3==1 rows' ORIGINAL version nets out (insert v0 + delete v1)
    # and their MERGED replacement is a single v1 insert; %3==2 rows
    # are pure inserts — 1 event each.
    oracle=f"""
    WITH s AS ({_SILVER_ORDERS_SQL})
    SELECT order_id, customer_id, status, priority, total_usd,
           order_date, CAST(3 AS BIGINT) AS n_row_events
    FROM s WHERE CAST(order_id AS BIGINT) % 3 = 0
    UNION ALL
    SELECT order_id, customer_id, status, 'MERGED' AS priority,
           total_usd, order_date, CAST(1 AS BIGINT) AS n_row_events
    FROM s WHERE CAST(order_id AS BIGINT) % 3 IN (1, 2)
    """,
)
def ext_delta_merge_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO under the change feed: write two-thirds of silver
    orders (v0), MERGE a source that UPDATES the %3==1 rows (priority
    restated) and INSERTS the %3==2 rows (copy-on-write upsert,
    ``MiniDeltaTable.merge`` — the managed-Delta upsert surface the
    reference's silver sink models, 02_silver_transform.py:29-37),
    then fold ``changes(0)`` per row. The fold must reproduce the
    post-merge snapshot exactly AND the per-row event counts must show
    the merge's delete+reinsert of untouched rows — the observable
    contract of a full-overwrite MERGE commit. The oracle states the
    net relation and counts directly from the fixtures."""
    def build(path: str) -> None:
        base = _silver_orders(spark, sf_dir)
        key_mod = F.col("order_id").cast("long") % 3
        tbl = MiniDeltaTable(spark, path)
        tbl.write(base.filter(key_mod.isin(0, 1)))  # v0
        source = base.filter(key_mod.isin(1, 2)).withColumn(
            "priority", F.lit("MERGED")
        )
        merged_version = tbl.merge(source, keys=["order_id"])
        if merged_version != 1:
            raise RuntimeError(
                f"merge landed at v{merged_version}, expected v1"
            )

    path = _memo_fixture("mrg", sf_dir, build)
    cdf = MiniDeltaTable(spark, path).changes(0)
    cols = [c for c in cdf.columns if not c.startswith("_")]
    return (
        cdf.groupBy(*cols)
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("_net"),
            F.count(F.lit(1)).alias("n_row_events"),
        )
        .filter(F.col("_net") > 0)
        .drop("_net")
    )


@query(
    "ext_delta_widened_read",
    # Three write eras under one logical schema: %3==0 rows landed as
    # (int, float) BEFORE the widening, %3==1 as (bigint, double)
    # through the widening merge, %3==2 as (int, float) again AFTER it
    # (the enforcement-not-evolution upcast). The read must surface
    # every era under the WIDE types with bit-exact values — the
    # oracle states the mixed-era relation's aggregate directly from
    # the fixtures. rate*4 is integral by construction (quarters), so
    # the sums stay in exact BIGINT arithmetic in both engines; a scan
    # that dropped narrow-era precision, double-read an era, or
    # resolved the wrong schema era-by-era shifts a sum and
    # hash-mismatches.
    oracle=f"""
    WITH s AS ({_SILVER_ORDERS_SQL}),
    rows_ AS (
      SELECT status, CAST(order_id AS BIGINT) AS k,
        CASE WHEN CAST(order_id AS BIGINT) % 3 = 1
             THEN CAST(order_id AS BIGINT) + 5000000000
             ELSE CAST(order_id AS BIGINT) % 1000 END AS qty,
        CASE WHEN CAST(order_id AS BIGINT) % 3 = 1
             THEN (CAST(order_id AS BIGINT) % 11) * 4 + 2
             ELSE (CAST(order_id AS BIGINT) % 7) * 4 + 1
        END AS rate_quarters
      FROM s
    )
    SELECT status, COUNT(*) AS n_orders,
      CAST(SUM(qty) AS BIGINT) AS sum_qty,
      CAST(SUM(rate_quarters) AS BIGINT) AS sum_rate_quarters
    FROM rows_ GROUP BY status
    """,
)
def ext_delta_widened_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type widening across write eras (the public Delta protocol's
    "Type Widening" table feature, ``deltalog.enable_type_widening``):
    write a third of silver orders with NARROW measure types (v0:
    ``qty`` int, ``rate`` float), enable the feature (v1), append a
    batch that WIDENS both columns (v2: bigint values past 2^32,
    double rates — ``mergeSchema`` records ``delta.typeChanges``),
    then append narrow-typed values again (v3 — enforcement upcasts
    them silently, no schema commit). The aggregate runs over the
    read-back table, so the era-spanning scan — old files keep their
    narrow PHYSICAL type, every read pins the wide LOGICAL schema and
    upcasts in-scan (BENCH_SF1.md: the upcast is free at sf1) — sits
    on the value-checked path. rate is quarter-integral so the double
    arithmetic is exact cross-engine (micro-unit rule)."""
    base = _silver_orders(spark, sf_dir).select(
        "status", F.col("order_id").cast("long").alias("k")
    )
    mod = F.col("k") % 3
    narrow = lambda df: df.select(  # noqa: E731
        "status",
        "k",
        (F.col("k") % 1000).cast("int").alias("qty"),
        ((F.col("k") % 7) + F.lit(0.25)).cast("float").alias("rate"),
    )
    path = _fresh_dir("minidelta_tw_") + "/orders"
    tbl = MiniDeltaTable(spark, path)
    tbl.write(narrow(base.filter(mod == 0)))  # v0: narrow era
    tbl.enable_type_widening()  # v1
    wide = base.filter(mod == 1).select(
        "status",
        "k",
        (F.col("k") + F.lit(5_000_000_000)).alias("qty"),  # bigint
        ((F.col("k") % 11) + F.lit(0.5)).cast("double").alias("rate"),
    )
    tbl.write(wide, mode="append", merge_schema=True)  # v2: widens
    # v3: narrow-typed batch AFTER the widening — enforcement, not
    # evolution (no metaData action; values upcast in-scan)
    tbl.write(narrow(base.filter(mod == 2)), mode="append",
              merge_schema=True)
    got = tbl.read()
    if dict(got.dtypes)["qty"] != "bigint":
        raise RuntimeError("type widening did not take")
    return got.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("qty").alias("sum_qty"),
        F.sum((F.col("rate") * 4).cast("long")).alias("sum_rate_quarters"),
    )


@query(
    "ext_delta_identity",
    # Identity values are writer-assigned in sparse per-partition
    # blocks (the real feature's task reservation — gaps allowed), so
    # the raw ids are partitioning-dependent; the CONTRACT is what the
    # oracle states: every row got a value, values never repeat across
    # appends or survive-the-checkpoint replays, every value sits on
    # the (start, step) grid, and the second append's values are
    # strictly past the first's watermark. Each invariant failing
    # moves a count or flips the flag.
    oracle=f"""
    WITH s AS ({_SILVER_ORDERS_SQL})
    SELECT COUNT(*) AS n_rows, COUNT(*) AS n_distinct_ids,
      CAST(0 AS BIGINT) AS n_off_grid,
      TRUE AS batches_disjoint
    FROM s
    """,
)
def ext_delta_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS IDENTITY under append + checkpoint replay
    (``deltalog.add_identity_column``): create an empty silver-orders
    table, add ``row_id`` (start=1000, step=7), append the even-key
    half (writer assigns values map-side in sparse blocks — one
    narrow projection, no shuffle, BENCH_SF1.md's 1.35×-of-plain
    design), CHECKPOINT (the advanced watermark must survive replay
    from the checkpoint, not just the JSON tail), then append the odd
    half. The read-back summary externally gates the identity
    contract: all-assigned, all-distinct, all-on-grid, and the second
    batch strictly past the first's watermark — a stale or
    non-replayed watermark mints duplicate or off-grid ids and flips
    the checked columns."""
    base = _silver_orders(spark, sf_dir)
    parity = F.col("order_id").cast("long") % 2
    path = _fresh_dir("minidelta_id_") + "/orders"
    tbl = MiniDeltaTable(spark, path)
    tbl.write(base.limit(0))  # v0: zero rows (identity add requires it)
    tbl.add_identity_column("row_id", start=1000, step=7)  # v1
    tbl.write(base.filter(parity == 0), mode="append")  # v2: assigns
    tbl.checkpoint()  # watermark must survive checkpoint replay
    tbl.write(base.filter(parity == 1), mode="append")  # v3: past hwm
    got = tbl.read().select(
        "row_id", (F.col("order_id").cast("long") % 2).alias("parity")
    )
    return got.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("row_id").alias("n_distinct_ids"),
        F.sum(
            F.when(
                (F.col("row_id") < 1000)
                | ((F.col("row_id") - 1000) % 7 != 0),
                1,
            ).otherwise(0)
        ).alias("n_off_grid"),
        (
            F.max(F.when(F.col("parity") == 0, F.col("row_id")))
            < F.min(F.when(F.col("parity") == 1, F.col("row_id")))
        ).alias("batches_disjoint"),
    )


@query(
    "ext_delta_v2_checkpoint",
    # After the v2 checkpoint + log expiry, EVERY byte of table state
    # the final read sees for versions ≤3 comes from the manifest +
    # sidecars (+ the DV sidecar it references): the JSON commits are
    # gone. Expected relation: all rows except the DV-erased %9==4
    # slice keep their original priority; that slice reappears only
    # as the post-expiry REVIVED append. A replay that loses a
    # sidecar bucket drops a count; one that loses the DV reference
    # resurrects the erased slice into its original priority groups;
    # one that misses the post-checkpoint JSON tail loses the REVIVED
    # group entirely. sum_key is exact BIGINT arithmetic.
    oracle=f"""
    WITH s AS ({_SILVER_ORDERS_SQL}),
    k AS (SELECT priority, CAST(order_id AS BIGINT) AS key FROM s)
    SELECT priority, COUNT(*) AS n_orders,
      CAST(SUM(key) AS BIGINT) AS sum_key
    FROM (
      SELECT priority, key FROM k WHERE key % 9 != 4
      UNION ALL
      SELECT 'REVIVED' AS priority, key FROM k WHERE key % 9 = 4
    )
    GROUP BY priority
    """,
)
def ext_delta_v2_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 checkpoint replay under log expiry (the public Delta
    protocol's "V2 Checkpoint Table Feature": a manifest whose file
    actions live in content-hash-named SIDECAR parquet files —
    ``deltalog.enable_v2_checkpoints``): write two-thirds of silver
    orders (v0), enable the feature (v1), append the rest (v2), erase
    the %9==4 slice with a DELETION-VECTOR delete (v3 — the DV
    reference must survive inside the checkpointed add action), take
    a v2 CHECKPOINT, EXPIRE the JSON history, then append a REVIVED
    restatement of the erased slice (v4 — replay must compose the
    manifest+sidecars with the post-checkpoint JSON tail). The final
    aggregate externally value-gates the whole recovery path: after
    expiry this is the only way any reader ever sees versions ≤3
    again, which is why checkpoint corruption is the silent kind —
    the log for those commits no longer exists to disagree with it.
    Models the reference's managed-Delta silver sink under log
    retention (02_silver/02_silver_transform.py:29-37); the sidecar
    byte-reuse economics are pinned separately by
    tests/test_deltalog.py::test_v2_checkpoint_roundtrip_and_sidecar_reuse."""
    key = F.col("order_id").cast("long")

    def build(path: str) -> None:
        base = _silver_orders(spark, sf_dir)
        tbl = MiniDeltaTable(spark, path, checkpoint_interval=0)  # manual
        tbl.write(base.filter((key % 3).isin(0, 1)))  # v0
        tbl.enable_v2_checkpoints()  # v1
        tbl.write(base.filter(key % 3 == 2), mode="append")  # v2
        if tbl.delete(key % 9 == 4, use_dv=True) is None:  # v3: DV erase
            raise RuntimeError("DV delete matched nothing")
        if tbl.checkpoint() != 3:
            raise RuntimeError("v2 checkpoint did not land at v3")
        if tbl.expire_log() != [0, 1, 2]:  # history gone: replay is real
            raise RuntimeError("log expiry did not remove the JSON history")
        revived = base.filter(key % 9 == 4).withColumn(
            "priority", F.lit("REVIVED")
        )
        tbl.write(revived, mode="append")  # v4: post-expiry JSON tail

    path = _memo_fixture("v2c", sf_dir, build)
    return (
        MiniDeltaTable(spark, path, checkpoint_interval=0)
        .read()
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("order_id").cast("long")).alias("sum_key"),
        )
    )


# ext_delta_restore RETIRED (r10) to free this capacity slot for
# stream_cdf_source: its RESTORE semantics remain pinned by
# tests/test_deltalog.py::test_restore_commits_old_snapshot_forward,
# test_restore_and_clone_preserve_configuration and
# test_restore_to_timestamp (see REGISTRY.md's pytest-only tier), and
# ext_delta_time_travel keeps the as-of-version read on the external
# gate.


@query(
    "stream_cdf_source",
    # Identical expected fold to ext_delta_cdf_fold's (the relation is
    # fully determined by the commit sequence below): %3==0 rows
    # survive with 3 events (insert v0, delete+insert v3) except the
    # %9==3 slice, erased by the DV delete (insert v0 + DV-delete v1 =
    # net 0); %3==1 originals net out across the v3 overwrite and
    # reappear RESTATED with 1 event; %3==2 rows (appended v2, deleted
    # v3) net to zero.
    oracle=f"""
    WITH s AS ({_SILVER_ORDERS_SQL})
    SELECT order_id, customer_id, status, priority, total_usd,
           order_date, CAST(3 AS BIGINT) AS n_row_events
    FROM s WHERE CAST(order_id AS BIGINT) % 3 = 0
      AND CAST(order_id AS BIGINT) % 9 != 3
    UNION ALL
    SELECT order_id, customer_id, status, 'RESTATED' AS priority,
           total_usd, order_date, CAST(1 AS BIGINT) AS n_row_events
    FROM s WHERE CAST(order_id AS BIGINT) % 3 = 1
    """,
)
def stream_cdf_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING change-data-feed source == batch ``changes()``: build
    a table whose history exercises every partition mode of the
    ``minidelta_cdf`` Structured Streaming source
    (streaming/cdf_source.py, Spark 4 Python DataSource API — the
    streaming face of Delta's ``readChangeFeed``): a plain write (v0),
    a deletion-vector DELETE (v1 — streams as a position-delta "semi"
    partition), an append (v2), and an overwrite (v3 — whose removal
    of the DV-carrying file must emit only the DV-SURVIVING rows, the
    "anti" mode with a mask). The feed is drained through a real
    ``writeStream`` (availableNow trigger, fault-tolerant parquet
    sink), read back, and folded per row exactly like
    ``ext_delta_cdf_fold``; the oracle states the expected net
    relation and per-row event counts directly from the fixtures, so
    the source's driver-side log planning, executor-side Arrow reads,
    DV masks, and offset bookkeeping all sit on the value-checked
    path."""
    from ..streaming.cdf_source import read_cdf_stream

    key = F.col("order_id").cast("long")
    key_mod = key % 3

    def build(path: str) -> None:
        base = _silver_orders(spark, sf_dir)
        tbl = MiniDeltaTable(spark, path)
        tbl.write(base.filter(key_mod.isin(0, 1)))  # v0
        # v1: deletion-vector erase of the %9==3 slice — zero rewrites;
        # the stream must surface it as row-level deletes of exactly
        # the sidecar positions
        if tbl.delete(key % 9 == 3, use_dv=True) is None:
            raise RuntimeError("DV delete matched nothing")
        tbl.write(base.filter(key_mod == 2), mode="append")  # v2
        restated = base.filter((key_mod == 0) & (key % 9 != 3)).unionByName(
            base.filter(key_mod == 1).withColumn(
                "priority", F.lit("RESTATED")
            )
        )
        tbl.write(restated)  # v3: overwrite = delete-all + insert-all

    # the TABLE build memoizes; the stream drain below — the read path
    # this query declares — re-runs in full on every invocation, into
    # a fresh sink + checkpoint dir
    path = _memo_fixture("scdf", sf_dir, build)
    root = _fresh_dir("minidelta_scdfout_")
    out = root + "/events"
    q = (
        read_cdf_stream(spark, path)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", root + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("CDF stream did not drain within 300s")
    cdf = spark.read.parquet(out)
    cols = [c for c in cdf.columns if not c.startswith("_")]
    return (
        cdf.groupBy(*cols)
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("_net"),
            F.count(F.lit(1)).alias("n_row_events"),
        )
        .filter(F.col("_net") > 0)
        .drop("_net")
    )


# ---------------------------------------------------------------------------
# Bounded streaming: interval join, window rollup, sessionization
# ---------------------------------------------------------------------------

# the session_window merge rule, reproduced in ANSI SQL: events merge
# while the inter-event gap is STRICTLY below 30 min (windows must
# overlap), at microsecond precision. Shared by the declarative
# (session_window) and custom-stateful (applyInPandasWithState)
# implementations — both must produce exactly these rows.
_SESSION_ORACLE = """
    WITH ordered AS (
      SELECT user_id, event_id, ts, event_type, value,
        CASE WHEN LAG(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), seq AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM ordered
    )
    SELECT CAST(user_id AS VARCHAR) AS user_id,
      CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start_sec,
      CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS session_end_sec,
      COUNT(*) AS event_count,
      CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(30,6))) AS DOUBLE) AS session_revenue
    FROM seq GROUP BY user_id, session_seq
    """


@query(
    "stream_interval_join",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
      FROM events WHERE event_type = 'purchase'
    ), e AS (
      SELECT user_id, event_id AS error_id, epoch_us(ts) AS e_us
      FROM events WHERE event_type = 'error'
    )
    SELECT p.user_id, purchase_id, error_id,
      CAST((e_us - p_us) // 1000000 AS BIGINT) AS lag_sec
    FROM p JOIN e ON p.user_id = e.user_id
      AND e_us >= p_us AND e_us < p_us + 3600000000
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join (streaming/joins.py): errors within
    one hour of a purchase by the same user, computed by a real
    Structured Streaming job — two watermarked streams, range-bounded
    join state, append output. Same semantics (and same oracle) as the
    batch ext_interval_join_errors; the streaming planner keeps the
    range predicate for state eviction where the batch operator
    bucket-hashes it."""
    from ..streaming.joins import run_stream_stream_join_bounded

    ev = silver_events(_t(spark, sf_dir, "events"))
    base = ev.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        "event_ts",
    )
    errors = base.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("event_ts").alias("error_ts"),
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("event_ts").alias("purchase_ts"),
    )
    joined = run_stream_stream_join_bounded(
        spark,
        errors,
        purchases,
        key="user_id",
        left_ts="error_ts",
        right_ts="purchase_ts",
        window="1 hour",
        watermark="1 hour",
    )
    return joined.select(
        "user_id",
        "purchase_id",
        "error_id",
        F.floor(
            (F.unix_micros("error_ts") - F.unix_micros("purchase_ts"))
            / 1_000_000
        ).cast("long").alias("lag_sec"),
    )


@query(
    "stream_time_window_rollup",
    oracle="""
    SELECT CAST(FLOOR(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_sec,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_time_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup via ``F.window`` (streaming/sessions.py
    windowed_rollup) — the §2.9 fixed-window operator. The same
    expressions run under readStream + watermark in
    tests/test_streaming.py; hour windows align to epoch hours, so the
    oracle is a date_trunc groupBy."""
    from ..streaming.sessions import windowed_rollup

    ev = silver_events(_t(spark, sf_dir, "events"))
    roll = windowed_rollup(ev, "event_ts", "1 hour")
    return roll.select(
        F.col("win.start").cast("long").alias("bucket_sec"),
        "event_type",
        "n_events",
        "total_value",
    )


@query("stream_session_stateful", oracle=_SESSION_ORACLE)
def stream_session_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState``
    (event-time timeout) — the extension point for per-group state
    machines the built-in ``session_window`` cannot express. Runs a
    real Structured Streaming job over the fixture events (bounded
    harness with a watermark sentinel) and must reproduce the
    session_window merge rule exactly; revenue accumulates in integer
    micro-units for bit-parity with the DECIMAL(30,6) batch sum."""
    ev = silver_events(_t(spark, sf_dir, "events"))
    return run_stateful_sessions_bounded(
        spark, ev, gap="30 minutes", watermark="1 hour"
    )


@query("stream_session_window", oracle=_SESSION_ORACLE)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``session_window`` gap sessionization — the batch twin of the
    streaming pipeline in streaming/sessions.py (identical column
    expressions run under readStream + watermark; see
    tests/test_streaming.py). Oracle replicates Spark's merge rule:
    events merge while the inter-event gap is STRICTLY below the
    30-min gap (windows must overlap), at microsecond precision."""
    ev = silver_events(_t(spark, sf_dir, "events"))
    roll = session_rollup(ev, "user_id", "event_ts", "30 minutes")
    return roll.select(
        "user_id",
        F.col("session_start_ts").cast("long").alias("session_start_sec"),
        F.col("session_end_ts").cast("long").alias("session_end_sec"),
        "event_count",
        "session_revenue",
    )


# ---------------------------------------------------------------------------
# Streaming dedup
# ---------------------------------------------------------------------------

@query(
    "stream_dedup_index_maintenance",
    # Same exact-Jaccard ground truth as ext_dedup_minhash_lsh: the
    # epoch-sharded streaming run must discover exactly the one-shot
    # pair set (each pair once, when its later member lands).
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
      CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jaccard
    FROM shared
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.5
    """,
)
def stream_dedup_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus dedup end-to-end: the fixture documents land
    as three shards through a real foreachBatch stream that maintains
    a persistent MinHash band-bucket index (streaming/dedup_index.py);
    the union of per-epoch pair discoveries must equal the one-shot
    batch pair set. History is never re-paired with itself — each
    epoch joins only the new shard's buckets against the stored
    index."""
    import shutil
    import tempfile

    from ..streaming.dedup_index import maintain_dedup_index, read_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    src = tempfile.mkdtemp(prefix="dedup_idx_src_")
    index = tempfile.mkdtemp(prefix="dedup_idx_state_")
    ckpt = tempfile.mkdtemp(prefix="dedup_idx_ckpt_")
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        for i, bound in enumerate([(0, 170), (170, 340), (340, 1 << 62)]):
            docs.filter(
                (F.col("doc_id") >= bound[0]) & (F.col("doc_id") < bound[1])
            ).coalesce(1).write.mode("overwrite").parquet(f"{src}/shard={i}")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/shard=*")
        )
        q = maintain_dedup_index(
            stream, index, ckpt, threshold=0.5, available_now=True
        )
        q.awaitTermination(300)
        # materialize off the temp dirs before they are deleted
        out = read_pairs(spark, index).localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        for d in (src, index, ckpt):
            shutil.rmtree(d, ignore_errors=True)
    return out


@query(
    "stream_dedup_exactly_once",
    oracle="SELECT DISTINCT event_id FROM events",
)
def stream_dedup_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once event ids from an at-least-once source: the
    fixture events are delivered TWICE (union) through a real
    Structured Streaming job with state-store dedup on the delivery
    key (streaming/dedup.py). The reference handles duplicates by
    rerunning batch overwrites (/root/reference/README.md:26-33);
    this is the streaming-native equivalent. The watermark-bounded
    variant (state pruned to the delay horizon) is exercised in
    tests/test_streaming_dedup.py."""
    from ..streaming.dedup import run_stream_dedup_bounded

    ev = _t(spark, sf_dir, "events").select("event_id")
    doubled = ev.unionAll(ev)
    return run_stream_dedup_bounded(spark, doubled, ["event_id"])


# ---------------------------------------------------------------------------
# Compaction bin-packing (lakehouse small-file maintenance)
# ---------------------------------------------------------------------------

_BIN_TARGET = 4096


@query(
    "ext_compaction_bins",
    oracle=f"""
    WITH files AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS part_date, event_type,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(length(props)) + 24 * COUNT(*) AS BIGINT) AS est_bytes
      FROM events GROUP BY 1, 2
    )
    SELECT part_date, event_type, n_rows, est_bytes,
      CAST(COALESCE(SUM(est_bytes) OVER (
        PARTITION BY part_date
        ORDER BY est_bytes DESC, event_type
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        // {_BIN_TARGET} AS BIGINT) AS compaction_bin
    FROM files
    """,
)
def ext_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the maintenance pass behind
    Delta/Iceberg OPTIMIZE: model each (day, event_type) slice of the
    event log as a file with an estimated byte size, then assign
    files to target-sized rewrite bins per partition via next-fit-
    decreasing packing (descending size order, running-sum // target).

    Scale shape: one aggregation builds the file manifest (manifest
    cardinality = files, not rows), then a window PARTITIONED BY the
    table partition assigns bins — parallel across partitions, and
    the per-partition frame is manifest-sized (a few files), never
    data-sized. Deterministic: integer byte estimates, descending
    size with a name tiebreak, floor division bin ids.
    """
    ev = _t(spark, sf_dir, "events")
    files = ev.groupBy(
        F.to_date("ts").alias("part_date"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(F.length("props")) + 24 * F.count(F.lit(1)))
        .cast("long")
        .alias("est_bytes"),
    )
    w = (
        Window.partitionBy("part_date")
        .orderBy(F.col("est_bytes").desc(), "event_type")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum("est_bytes").over(w), F.lit(0))
    return files.select(
        "part_date",
        "event_type",
        "n_rows",
        "est_bytes",
        F.floor(prior / F.lit(_BIN_TARGET)).cast("long").alias(
            "compaction_bin"
        ),
    )


# ---------------------------------------------------------------------------
# Streaming left-outer interval join (watermark-driven null emission)
# ---------------------------------------------------------------------------


@query(
    "stream_interval_join_outer",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id AS error_id, epoch_us(ts) AS e_us
      FROM events WHERE event_type = 'error'
    ), p AS (
      SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
      FROM events WHERE event_type = 'purchase'
    )
    SELECT e.user_id, error_id, purchase_id,
      CAST((e_us - p_us) // 1000000 AS BIGINT) AS lag_sec
    FROM e LEFT JOIN p ON e.user_id = p.user_id
      AND e_us >= p_us AND e_us < p_us + 3600000000
    """,
)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join — the semantics the
    inner variant (stream_interval_join) cannot show: errors with NO
    purchase in the preceding hour must still emit, with nulls, and
    in a real stream that row may only be produced once the watermark
    proves no matching purchase can still arrive. Runs as a real
    Structured Streaming job (streaming/joins.py bounded harness,
    which appends a far-future sentinel to flush outer state at
    end-of-input); the batch oracle is the plain LEFT JOIN.
    """
    from ..streaming.joins import run_stream_stream_join_bounded

    ev = silver_events(_t(spark, sf_dir, "events"))
    base = ev.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        "event_ts",
    )
    errors = base.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("event_ts").alias("error_ts"),
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("event_ts").alias("purchase_ts"),
    )
    joined = run_stream_stream_join_bounded(
        spark,
        errors,
        purchases,
        key="user_id",
        left_ts="error_ts",
        right_ts="purchase_ts",
        window="1 hour",
        watermark="1 hour",
        how="left_outer",
    )
    return joined.select(
        "user_id",
        "error_id",
        "purchase_id",
        F.floor(
            (F.unix_micros("error_ts") - F.unix_micros("purchase_ts"))
            / 1_000_000
        ).cast("long").alias("lag_sec"),
    )
