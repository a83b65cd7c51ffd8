"""Mini Delta-log table format (sources/deltalog.py): the table-format
behaviors the reference's sink relies on — atomic versioned commits,
schema enforcement + overwriteSchema evolution, time travel, partition
pruning from the log, copy-on-write MERGE, vacuum — exercised against
the real transaction-log implementation (delta-spark is absent in this
runtime; the log format here follows the PUBLIC Delta protocol spec).

Reference sink contract under test: format("delta").mode("overwrite")
.option("overwriteSchema","true") — 01_bronze/01_bronze_ingest.py:34,
02_silver/02_silver_transform.py:29-37.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from ecommerce_lakehouse_platform_spark.plans.silver import silver_orders
from ecommerce_lakehouse_platform_spark.sources.catalog import load_table
from ecommerce_lakehouse_platform_spark.sources.deltalog import (
    ConcurrentWriteError,
    MiniDeltaTable,
    SchemaMismatchError,
)

from .conftest import SF_SMOKE


@pytest.fixture()
def tmp_table(spark):
    base = tempfile.mkdtemp(prefix="deltalog_")
    yield MiniDeltaTable(spark, os.path.join(base, "t"))
    shutil.rmtree(base, ignore_errors=True)


def _orders(spark):
    return silver_orders(load_table(spark, SF_SMOKE, "orders")).drop("order_ts")


def _canon(df):
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def test_overwrite_append_and_time_travel(spark, tmp_table):
    orders = _orders(spark)
    half = F.crc32(F.col("order_id")) % 2 == 0
    first, second = orders.filter(half), orders.filter(~half)
    assert first.count() > 0 and second.count() > 0

    assert tmp_table.write(first, mode="overwrite") == 0
    assert tmp_table.write(second, mode="append") == 1
    # latest = union; v0 = first batch only; schema identical throughout
    assert _canon(tmp_table.read()) == _canon(first.unionByName(second))
    assert _canon(tmp_table.read(version=0)) == _canon(first)
    assert tmp_table.read().schema == first.schema

    # overwrite drops both earlier file sets in ONE commit
    assert tmp_table.write(first.limit(10), mode="overwrite") == 2
    assert tmp_table.read().count() == 10
    assert _canon(tmp_table.read(version=1)) == _canon(
        first.unionByName(second)
    )
    ops = [h["operation"] for h in tmp_table.history()]
    assert ops == ["WRITE", "WRITE", "WRITE"]
    assert [h["version"] for h in tmp_table.history()] == [2, 1, 0]


def test_v0_log_carries_protocol_and_metadata(spark, tmp_table):
    tmp_table.write(_orders(spark).limit(5))
    with open(tmp_table._version_file(0), encoding="utf-8") as fh:
        actions = [json.loads(line) for line in fh]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "commitInfo"
    assert "protocol" in kinds and "metaData" in kinds and "add" in kinds
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    assert meta["format"]["provider"] == "parquet"
    # schemaString is a Spark StructType JSON document
    assert json.loads(meta["schemaString"])["type"] == "struct"


def test_schema_enforced_unless_evolved(spark, tmp_table):
    orders = _orders(spark)
    tmp_table.write(orders)
    evolved = orders.withColumn("channel", F.lit("web"))

    with pytest.raises(SchemaMismatchError):
        tmp_table.write(evolved, mode="append")
    with pytest.raises(SchemaMismatchError):
        tmp_table.write(evolved, mode="overwrite")  # no overwrite_schema

    v = tmp_table.write(evolved, mode="overwrite", overwrite_schema=True)
    assert "channel" in tmp_table.read().columns
    # time travel replays the schema AS OF the version: v0 has no channel
    assert "channel" not in tmp_table.read(version=0).columns
    assert _canon(tmp_table.read(version=v)) == _canon(evolved)


def test_partitioned_layout_and_log_level_pruning(spark, tmp_table):
    orders = _orders(spark).withColumn(
        "order_month", F.date_format("order_date", "yyyy-MM")
    )
    tmp_table.write(orders, partition_by=["order_month"])

    snap = tmp_table.snapshot()
    assert snap.partition_columns == ["order_month"]
    months = {f["partitionValues"]["order_month"] for f in snap.files.values()}
    assert len(months) > 1
    # pruning answered from the LOG alone: a one-month filter selects a
    # strict subset of files, and reading just those matches the filter
    month = sorted(months)[0]
    pruned = tmp_table.files_for({"order_month": month})
    assert 0 < len(pruned) < len(snap.files)
    via_pruned = spark.read.option("basePath", tmp_table.path).parquet(*pruned)
    expect = orders.filter(F.col("order_month") == month)
    assert via_pruned.count() == expect.count()
    # full reads restore the partition column with its logged type
    assert _canon(tmp_table.read()) == _canon(orders)
    # appends inherit the table's partitioning without restating it
    tmp_table.write(orders.limit(7), mode="append")
    assert tmp_table.read().count() == orders.count() + 7


def test_concurrent_commit_loses_put_if_absent(spark, tmp_table):
    orders = _orders(spark).limit(20)
    tmp_table.write(orders)
    # two writers that both planned version 1: the first publish wins,
    # the second must fail loudly instead of clobbering the log
    tmp_table._commit(1, [{"commitInfo": {"operation": "WRITE"}}])
    with pytest.raises(ConcurrentWriteError):
        tmp_table._commit(1, [{"commitInfo": {"operation": "WRITE"}}])
    # and a fresh writer simply lands on the next version
    assert tmp_table.write(orders, mode="append") == 2


def test_merge_upsert_is_copy_on_write(spark, tmp_table):
    orders = _orders(spark)
    tmp_table.write(orders)
    picked = orders.orderBy("order_id").limit(5).localCheckpoint(eager=True)
    source = picked.withColumn("status", F.lit("merged")).unionByName(
        picked.limit(1).withColumn(
            "order_id", F.concat(F.lit("new-"), F.col("order_id"))
        )
    )
    v = tmp_table.merge(source, keys=["order_id"])
    latest = tmp_table.read()
    assert latest.count() == orders.count() + 1
    assert latest.filter(F.col("status") == "merged").count() == 5
    # pre-merge state is still addressable
    assert _canon(tmp_table.read(version=v - 1)) == _canon(orders)


def test_checkpoint_consolidates_replay(spark, tmp_table):
    """Checkpoint every 3rd commit: snapshots replay the checkpoint
    plus only the JSON commits after it, and deep time travel to
    pre-checkpoint versions still works off the retained JSON log."""
    tmp_table.checkpoint_interval = 3
    orders = _orders(spark)
    tmp_table.write(orders.limit(10))  # v0
    evolved = orders.limit(10).withColumn("channel", F.lit("web"))
    tmp_table.write(evolved, mode="overwrite", overwrite_schema=True)  # v1
    for i in range(5):  # v2..v6; auto-checkpoints fire at v3 and v6
        tmp_table.write(evolved.limit(2), mode="append")
    assert os.path.exists(tmp_table._checkpoint_path(3))
    assert os.path.exists(tmp_table._checkpoint_path(6))
    assert tmp_table._latest_checkpoint_version() == 6

    # replay provenance: a latest-snapshot read touches NO json commit
    # at or before the checkpoint
    seen: list[int] = []
    real = tmp_table._read_actions
    tmp_table._read_actions = lambda v: (seen.append(v), real(v))[1]
    try:
        snap = tmp_table.snapshot()
        assert seen == []  # checkpoint at 6 == latest: zero JSON reads
        tmp_table.write(evolved.limit(1), mode="append")  # v7
        seen.clear()
        assert tmp_table.snapshot().version == 7
        assert seen == [7]
    finally:
        tmp_table._read_actions = real

    # checkpointed state == pure-JSON replay, bit for bit
    real_ckpt = tmp_table._latest_checkpoint_version
    tmp_table._latest_checkpoint_version = lambda: None
    try:
        pure = tmp_table.snapshot()
    finally:
        tmp_table._latest_checkpoint_version = real_ckpt
    # a checkpoint restates adds with dataChange=false (protocol rule),
    # so compare everything else
    def strip(files):
        return {
            p: {k: v for k, v in a.items() if k != "dataChange"}
            for p, a in files.items()
        }

    assert strip(tmp_table.snapshot().files) == strip(pure.files)
    assert tmp_table.snapshot().schema == pure.schema

    # the checkpoint carries the evolved metaData; pre-evolution time
    # travel (v0 < every checkpoint) replays the original schema
    assert "channel" in tmp_table.read().columns
    assert "channel" not in tmp_table.read(version=0).columns
    assert tmp_table.read().count() == 10 + 5 * 2 + 1


def test_changes_feed_reconstructs_row_level_cdc(spark, tmp_table):
    from collections import Counter

    orders = _orders(spark)
    first = orders.orderBy("order_id").limit(20).localCheckpoint(eager=True)
    extra = (
        orders.orderBy(F.desc("order_id")).limit(10).localCheckpoint(eager=True)
    )
    tmp_table.write(first)  # v0
    tmp_table.write(extra, mode="append")  # v1
    tmp_table.write(first.limit(5), mode="overwrite")  # v2

    one = tmp_table.changes(1, 1)
    assert {"_change_type", "_commit_version", "_commit_timestamp"} <= set(
        one.columns
    )
    assert one.groupBy("_change_type").count().collect()[0].asDict() == {
        "_change_type": "insert",
        "count": 10,
    }
    assert _canon(one.drop("_change_type", "_commit_version", "_commit_timestamp")) == _canon(extra)

    # the overwrite is CDC-visible as delete-all + insert-all
    two = dict(
        (r["_change_type"], r["count"])
        for r in tmp_table.changes(2, 2).groupBy("_change_type").count().collect()
    )
    assert two == {"delete": 30, "insert": 5}

    # net fold over the full feed == the latest snapshot
    feed = tmp_table.changes(0)
    data_cols = [c for c in feed.columns if not c.startswith("_")]
    net: Counter = Counter()
    for row in feed.collect():
        delta = 1 if row["_change_type"] == "insert" else -1
        net[tuple(row[c] for c in data_cols)] += delta
    latest = Counter(
        tuple(r[c] for c in data_cols) for r in tmp_table.read().collect()
    )
    assert +net == latest
    versions = {r["_commit_version"] for r in feed.collect()}
    assert versions == {0, 1, 2}


def test_changes_replay_scan_count_independent_of_commits(spark, tmp_table):
    """r12 replay batching: a K-commit feed over one schema era must
    plan ONE parquet scan of the plain change files (+ the broadcast
    membership stamp), never one relation per (version, change) group
    — at incremental-consumer commit counts the per-relation footer
    reads and plan weight dominated the fold (60-commit probe:
    11.4s → 1.9s, BENCH_SF1.md)."""
    orders = _orders(spark)
    for i in range(6):
        tmp_table.write(
            orders.orderBy("order_id").limit(5 * (i + 1)),
            mode="append" if i else "overwrite",
        )
    feed = tmp_table.changes(0)
    plan = feed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert feed.count() == sum(5 * (i + 1) for i in range(6))
    # and the stamps still attribute rows to the right commits
    per_v = {
        r["_commit_version"]: r["count"]
        for r in feed.groupBy("_commit_version").count().collect()
    }
    assert per_v == {i: 5 * (i + 1) for i in range(6)}


def test_optimize_compacts_invisibly(spark, tmp_table):
    orders = _orders(spark).withColumn(
        "order_month", F.date_format("order_date", "yyyy-MM")
    )
    chunk = orders.limit(30).localCheckpoint(eager=True)
    tmp_table.write(chunk, partition_by=["order_month"])
    tmp_table.write(chunk, mode="append")
    tmp_table.write(chunk, mode="append")
    before = tmp_table.snapshot()
    per_part: dict[tuple, int] = {}
    for add in before.files.values():
        key = tuple(sorted(add["partitionValues"].items()))
        per_part[key] = per_part.get(key, 0) + 1
    assert max(per_part.values()) >= 3
    expect = _canon(tmp_table.read())

    v = tmp_table.optimize()
    assert v == 3
    after = tmp_table.snapshot()
    compacted: dict[tuple, int] = {}
    for add in after.files.values():
        key = tuple(sorted(add["partitionValues"].items()))
        compacted[key] = compacted.get(key, 0) + 1
    assert max(compacted.values()) == 1
    assert len(after.files) < len(before.files)
    # contents identical; history records OPTIMIZE; CDF sees nothing
    assert _canon(tmp_table.read()) == expect
    assert tmp_table.history()[0]["operation"] == "OPTIMIZE"
    assert tmp_table.changes(v, v).count() == 0
    # idempotent: a second pass has nothing to do
    assert tmp_table.optimize() is None
    # vacuum reclaims the pre-compaction small files
    removed = set(tmp_table.vacuum())
    assert removed == set(before.files) - set(after.files)
    assert _canon(tmp_table.read()) == expect


def test_optimize_respects_size_target_per_partition(spark, tmp_table):
    """With a small max_file_bytes, a multi-file partition compacts to
    SEVERAL size-targeted bins, not one giant file per partition."""
    orders = _orders(spark).withColumn(
        "order_month", F.date_format("order_date", "yyyy-MM")
    )
    chunk = orders.limit(60).localCheckpoint(eager=True)
    tmp_table.write(chunk, partition_by=["order_month"])
    tmp_table.write(chunk, mode="append")
    tmp_table.write(chunk, mode="append")
    sizes = [
        sum(
            a["size"]
            for a in tmp_table.snapshot().files.values()
            if a["partitionValues"]["order_month"] == m
        )
        for m in {
            a["partitionValues"]["order_month"]
            for a in tmp_table.snapshot().files.values()
        }
    ]
    target = max(sizes) // 2  # guarantees >=2 bins for the biggest group
    expect = _canon(tmp_table.read())
    assert tmp_table.optimize(max_file_bytes=target) is not None
    per_part: dict[str, int] = {}
    for a in tmp_table.snapshot().files.values():
        m = a["partitionValues"]["order_month"]
        per_part[m] = per_part.get(m, 0) + 1
    assert max(per_part.values()) >= 2  # the size target split a group
    assert _canon(tmp_table.read()) == expect


def test_optimize_unpartitioned_bin_packs_by_size(spark, tmp_table):
    """The no-partition-columns branch: small files across appends
    collapse into size-targeted bins (here one), same invisibility."""
    orders = _orders(spark).limit(40).localCheckpoint(eager=True)
    tmp_table.write(orders.repartition(4))
    tmp_table.write(orders.repartition(4), mode="append")
    assert len(tmp_table.snapshot().files) >= 8
    expect = _canon(tmp_table.read())
    v = tmp_table.optimize()
    assert v is not None
    assert len(tmp_table.snapshot().files) == 1
    assert _canon(tmp_table.read()) == expect
    assert tmp_table.changes(v, v).count() == 0


def test_restore_commits_old_snapshot_forward(spark, tmp_table):
    orders = _orders(spark)
    a = orders.orderBy("order_id").limit(10).localCheckpoint(eager=True)
    evolved = a.withColumn("channel", F.lit("web"))
    tmp_table.write(a)  # v0
    tmp_table.write(evolved, mode="overwrite", overwrite_schema=True)  # v1
    tmp_table.write(evolved.limit(3), mode="append")  # v2

    v = tmp_table.restore(0)
    assert v == 3
    # contents AND schema are the v0 state, as a new forward commit
    assert _canon(tmp_table.read()) == _canon(a)
    assert "channel" not in tmp_table.read().columns
    assert tmp_table.history()[0]["operation"] == "RESTORE"
    # the rolled-back state is still addressable
    assert tmp_table.read(version=2).count() == 13
    # restore is CDC-visible like any data change
    assert tmp_table.changes(v, v).count() > 0
    # restoring to a vacuumed version fails loudly
    tmp_table.vacuum()
    with pytest.raises(FileNotFoundError):
        tmp_table.restore(1)


def test_expire_log_bounds_metadata(spark, tmp_table):
    tmp_table.checkpoint_interval = 3
    orders = _orders(spark).limit(8).localCheckpoint(eager=True)
    tmp_table.write(orders)  # v0
    for _ in range(6):  # v1..v6; checkpoints at v3 and v6
        tmp_table.write(orders.limit(2), mode="append")
    expired = tmp_table.expire_log()
    assert expired == [0, 1, 2, 3, 4, 5]
    assert tmp_table.versions() == [6]
    # latest snapshot replays entirely from the checkpoint
    assert tmp_table.read().count() == 8 + 6 * 2
    # appends continue normally and CDF over the RETAINED range works
    tmp_table.write(orders.limit(1), mode="append")  # v7
    assert tmp_table.changes(7, 7).count() == 1
    # expired history is a loud error, not silent absence
    with pytest.raises(ValueError):
        tmp_table.read(version=2)
    with pytest.raises(ValueError):
        tmp_table.changes(0)


def test_mixed_operation_sequence_model_parity(spark, tmp_table):
    """Scripted interleaving of every table operation against a plain
    Python model: write → append → (auto-checkpoint) → merge →
    optimize → append → vacuum, checking read() against the model
    after every step, plus the documented CDF-after-vacuum failure
    mode and the death of vacuumed time travel."""
    tmp_table.checkpoint_interval = 2  # checkpoints land mid-sequence
    orders = _orders(spark)
    a = orders.orderBy("order_id").limit(12).localCheckpoint(eager=True)
    b = (
        orders.orderBy(F.desc("order_id")).limit(6).localCheckpoint(eager=True)
    )
    upd = a.limit(3).withColumn("status", F.lit("u")).localCheckpoint(eager=True)
    model: dict[tuple, tuple] = {}

    def key_of(t, cols):
        return t[cols.index("order_id")]

    cols = a.columns
    tmp_table.write(a)  # v0
    model = {key_of(tuple(r), cols): tuple(r) for r in a.collect()}
    assert {key_of(tuple(r), cols): tuple(r) for r in tmp_table.read().collect()} == model

    tmp_table.write(b, mode="append")  # v1
    model.update({key_of(tuple(r), cols): tuple(r) for r in b.collect()})
    assert {key_of(tuple(r), cols): tuple(r) for r in tmp_table.read().collect()} == model

    tmp_table.merge(upd.select(*cols), keys=["order_id"])  # v2 (overwrite)
    model.update({key_of(tuple(r), cols): tuple(r) for r in upd.select(*cols).collect()})
    assert {key_of(tuple(r), cols): tuple(r) for r in tmp_table.read().collect()} == model

    v_opt = tmp_table.optimize()  # v3, dataChange=false
    assert v_opt == 3
    assert {key_of(tuple(r), cols): tuple(r) for r in tmp_table.read().collect()} == model

    tmp_table.write(b.limit(2), mode="append")  # v4 (append re-adds dup keys)
    assert tmp_table.read().count() == len(model) + 2

    # checkpoints fired at v2 and v4; both replay to the model state
    assert tmp_table._latest_checkpoint_version() == 4
    assert {key_of(tuple(r), cols): tuple(r) for r in tmp_table.read(version=3).collect()} == model

    # pre-vacuum: full-history CDF works and time travel to v0 works
    assert tmp_table.changes(0).count() > 0
    assert tmp_table.read(version=0).count() == 12

    removed = tmp_table.vacuum()
    assert removed  # the merge rewrite + optimize left dead files
    # post-vacuum: latest read unharmed…
    assert tmp_table.read().count() == len(model) + 2
    # …but CDF over vacuumed history and deep time travel now fail
    # loudly (the documented contract), not silently wrong
    with pytest.raises(Exception):
        tmp_table.changes(0).count()
    with pytest.raises(Exception):
        tmp_table.read(version=0).count()


def test_vacuum_drops_unreferenced_files_only(spark, tmp_table):
    orders = _orders(spark)
    tmp_table.write(orders)
    tmp_table.write(orders.limit(10), mode="overwrite")

    v0_files = set(tmp_table.snapshot(0).files)
    active = set(tmp_table.snapshot().files)
    # overwrite keeps old files on disk (time travel still works)…
    assert all(
        os.path.exists(os.path.join(tmp_table.path, p)) for p in v0_files
    )
    removed = set(tmp_table.vacuum())
    # …until vacuum reclaims exactly the non-active set
    assert removed == v0_files - active
    assert tmp_table.read().count() == 10
    for rel in removed:
        assert not os.path.exists(os.path.join(tmp_table.path, rel))


def test_optimize_survives_uri_hostile_partition_values(spark, tmp_table):
    """input_file_name() returns a percent-encoded URI (space→%20, and
    hive-escaped on-disk chars like '=' → '%3D' re-encode to '%253D');
    before decoding, optimize()'s path recovery silently dropped every
    row in such partitions from the rewrite while still committing the
    removes — data loss. Values here cover space, '%', '=', and '+'
    (the form-decoding trap: url_decode('+') is a space)."""
    hostile = ["a b", "x%y", "k=v", "p+q"]
    df = spark.createDataFrame(
        [(i, hostile[i % 4], float(i)) for i in range(16)],
        "id int, country string, v double",
    ).localCheckpoint(eager=True)
    tmp_table.write(df, partition_by=["country"])
    tmp_table.write(df, mode="append")  # 2+ files per partition dir
    before = _canon(tmp_table.read())
    assert tmp_table.optimize() is not None
    assert _canon(tmp_table.read()) == before
    # and the compaction actually consolidated per partition
    per_part: dict[tuple, int] = {}
    for add in tmp_table.snapshot().files.values():
        key = tuple(sorted(add["partitionValues"].items()))
        per_part[key] = per_part.get(key, 0) + 1
    assert set(per_part.values()) == {1}


def test_changes_expired_log_seeds_schema_from_first_retained_checkpoint(
    spark, tmp_table
):
    """CDF replay over an expired log must seed the schema from the
    checkpoint AT the first retained commit, not the newest checkpoint
    overall — a later checkpoint postdating a schema evolution inside
    the replay range would cast pre-evolution commits with the wrong
    schema (here: select a column their files don't have)."""
    tmp_table.checkpoint_interval = 5
    base = spark.range(3).select(F.col("id").cast("int").alias("id"))
    tmp_table.write(base)  # v0
    for _ in range(5):  # v1..v5; checkpoint at v5
        tmp_table.write(base, mode="append")
    assert tmp_table.expire_log() == [0, 1, 2, 3, 4]
    evolved = base.withColumn("extra", F.lit("x"))
    tmp_table.write(evolved, overwrite_schema=True)  # v6: evolution
    for _ in range(4):  # v7..v10; a NEWER checkpoint lands at v10
        tmp_table.write(evolved, mode="append")
    assert tmp_table._checkpoint_versions() == [5, 10]

    cdf = tmp_table.changes(5)
    by = {
        (r["_commit_version"], r["_change_type"]): 0 for r in cdf.collect()
    }
    rows = cdf.collect()
    for r in rows:
        by[(r["_commit_version"], r["_change_type"])] += 1
    # v5: one pre-evolution append (old schema, extra backfills null)
    assert by[(5, "insert")] == 3
    assert all(
        r["extra"] is None for r in rows if r["_commit_version"] == 5
    )
    # v6 overwrite: deletes ALL 18 pre-evolution rows + inserts 3
    assert by[(6, "delete")] == 18
    assert by[(6, "insert")] == 3
    assert sum(by.values()) == 3 + 18 + 3 + 4 * 3


def test_time_travel_between_checkpoints_after_expiry(spark, tmp_table):
    """Snapshot of a version BETWEEN two checkpoints on an expired log
    must replay from the checkpoint at-or-before it; replaying 'from
    version 0' reconstructs nothing once 0..4 are expired (this read
    was silently short before the at-or-before checkpoint lookup)."""
    tmp_table.checkpoint_interval = 5
    base = spark.range(3).select(F.col("id").cast("int").alias("id"))
    tmp_table.write(base)  # v0
    for _ in range(5):  # v1..v5; checkpoint at v5
        tmp_table.write(base, mode="append")
    tmp_table.expire_log()
    for _ in range(5):  # v6..v10; newer checkpoint at v10
        tmp_table.write(base, mode="append")
    # v7 < newest checkpoint (10), > retained start (5)
    assert tmp_table.read(version=7).count() == 18 + 2 * 3
    assert tmp_table.read().count() == 18 + 5 * 3


def test_append_partition_layout_change_rejected(spark, tmp_table):
    """Real Delta rejects partition-column changes outside overwrite +
    overwriteSchema: silently committing a metaData with new
    partitionColumns mixes two hive layouts under one root, breaking
    partition discovery and files_for() pruning."""
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "id int, c1 string, c2 string"
    )
    tmp_table.write(df, partition_by=["c1"])
    with pytest.raises(SchemaMismatchError):
        tmp_table.write(df, mode="append", partition_by=["c2"])
    with pytest.raises(SchemaMismatchError):
        tmp_table.write(df, mode="overwrite", partition_by=["c2"])
    tmp_table.write(
        df, mode="overwrite", partition_by=["c2"], overwrite_schema=True
    )
    assert tmp_table.snapshot().partition_columns == ["c2"]
    assert tmp_table.read().count() == 2


def test_optimize_zorder_clusters_both_dimensions(spark, tmp_table):
    """OPTIMIZE ... ZORDER BY (x, y): every active file is rewritten
    along the Morton curve, so each output file carries tight min/max
    ranges on BOTH named dimensions (an x-sorted layout gives tight x
    but full-span y), contents are preserved, and the rewrite is
    dataChange=false — invisible to the change feed."""
    n = 32
    grid = spark.createDataFrame(
        [(i, i % n, i // n, float(i)) for i in range(n * n)],
        "id int, x int, y int, v double",
    ).localCheckpoint(eager=True)
    tmp_table.write(grid)  # v0
    before = _canon(tmp_table.read())
    v = tmp_table.optimize(max_file_bytes=4096, zorder_by=["x", "y"])
    assert v == 1
    assert _canon(tmp_table.read()) == before
    # invisible to CDF: only v0's inserts appear
    assert tmp_table.changes(0).count() == n * n

    files = tmp_table.snapshot().file_paths(tmp_table.path)
    assert len(files) >= 4, "size target should have split the rewrite"
    areas = []
    for f in files:
        agg = (
            spark.read.parquet(f)
            .agg(
                F.min("x"), F.max("x"), F.min("y"), F.max("y"),
            )
            .first()
        )
        xr = (agg[1] - agg[0] + 1) / n
        yr = (agg[3] - agg[2] + 1) / n
        areas.append(xr * yr)
    # contiguous Morton segments: each file covers a bounded sub-square
    # of the (x, y) domain, never the full plane; on average well under
    # half the area. An x-sorted layout would put yr == 1.0 everywhere.
    assert max(areas) <= 0.75, areas
    assert sum(areas) / len(areas) <= 0.45, areas


def test_optimize_zorder_rejects_unsupported_column(spark, tmp_table):
    df = spark.createDataFrame([(1, "a")], "id int, s string")
    tmp_table.write(df)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        tmp_table.optimize(zorder_by=["s"])
    with _pytest.raises(ValueError):
        tmp_table.optimize(zorder_by=["nope"])


def test_shallow_clone_zero_copy(spark, tmp_table):
    """SHALLOW CLONE: the clone's v0 references the source snapshot's
    files by absolute path — no data copied — then evolves
    independently; time travel on the clone pins the cloned snapshot
    even after both tables move on."""
    orders = _orders(spark).limit(20).localCheckpoint(eager=True)
    tmp_table.write(orders)
    clone = tmp_table.clone(tmp_table.path + "_clone")
    assert _canon(clone.read()) == _canon(tmp_table.read())
    # zero-copy: not a single parquet data file under the clone root
    data_files = [
        name
        for root, dirs, names in os.walk(clone.path)
        if "_delta_log" not in root
        for name in names
        if name.endswith(".parquet")
    ]
    assert data_files == []
    # clone evolves independently of the source...
    clone.write(orders.limit(5))
    assert clone.read().count() == 5
    assert tmp_table.read().count() == 20
    # ...and vice versa; the clone's v0 stays addressable because the
    # source's overwrite keeps old files on disk until vacuum
    tmp_table.write(orders.limit(3))
    assert clone.read(version=0).count() == 20
    assert tmp_table.read().count() == 3
    # re-cloning onto an existing table is refused
    with pytest.raises(FileExistsError):
        tmp_table.clone(clone.path)
    # OPTIMIZE on the (unpartitioned) clone compacts the referenced
    # source files into the clone's OWN copy (two source files first,
    # so compaction has something to bin)
    tmp_table.write(orders.limit(2), mode="append")
    clone2 = tmp_table.clone(tmp_table.path + "_clone2")
    assert clone2.optimize() is not None
    assert clone2.read().count() == 5
    assert all(
        not os.path.isabs(rel) for rel in clone2.snapshot().files
    ), "optimize should have replaced the absolute references"


def test_shallow_clone_partitioned_source(spark, tmp_table):
    """Partitioned shallow clone: partition columns are restored from
    the log's partitionValues (hive path recovery cannot span the
    mixed roots), log-level pruning still fires on the clone, a null
    partition value round-trips, and the clone's own appends land
    under its root and merge with the cloned references on read."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (4, None)], "id int, p string"
    )
    tmp_table.write(df, partition_by=["p"])
    clone = tmp_table.clone(tmp_table.path + "_clone")
    assert clone.snapshot().partition_columns == ["p"]
    assert _canon(clone.read()) == _canon(tmp_table.read())
    # zero-copy: no parquet data files under the clone root
    data_files = [
        name
        for root, dirs, names in os.walk(clone.path)
        if "_delta_log" not in root
        for name in names
        if name.endswith(".parquet")
    ]
    assert data_files == []
    # log-level partition pruning works on the absolute references
    pruned = clone.files_for({"p": "a"})
    assert len(pruned) >= 1
    assert all(os.path.isabs(f) and "/p=a/" in f for f in pruned)
    assert clone.files_for({"p": "zzz"}) == []
    # the clone evolves independently: its append is a relative add
    clone.write(
        spark.createDataFrame([(5, "c")], "id int, p string"), mode="append"
    )
    assert clone.read().count() == 5
    assert {r["p"] for r in clone.read().collect()} == {"a", "b", "c", None}
    assert tmp_table.read().count() == 4
    # and the cloned snapshot stays pinned at the clone's v0
    assert clone.read(version=0).count() == 4


def test_clone_of_checkpointed_source_is_a_data_change(spark, tmp_table):
    """A clone's version 0 creates the table, so its adds are data
    changes even where the source snapshot restates them from a
    checkpoint (``dataChange=false``) or from OPTIMIZE: the clone's
    change feed from version 0 inserts every source row."""
    df = spark.createDataFrame(
        [(i, f"k{i}") for i in range(6)], "id int, k string"
    )
    tmp_table.write(df.repartition(2))
    tmp_table.optimize()
    tmp_table.checkpoint()
    clone = tmp_table.clone(tmp_table.path + "_clone")
    assert all(a["dataChange"] for a in clone.snapshot().files.values())
    inserted = clone.changes(0).filter(F.col("_change_type") == "insert")
    assert _canon(inserted.select("id", "k")) == _canon(df)
    shutil.rmtree(clone.path, ignore_errors=True)


def test_concurrent_append_rebases_onto_winner(spark, tmp_table):
    """A blind append that loses the put-if-absent race auto-retries
    at the next version (the Delta protocol's conflict rule: an
    AddFile-only commit conflicts with nothing it didn't read) — both
    writers' rows land, in two consecutive versions."""
    orders = _orders(spark).limit(20).localCheckpoint(eager=True)
    tmp_table.write(orders)  # v0
    rival = MiniDeltaTable(spark, tmp_table.path)
    original_stage = tmp_table._stage_data_files

    def stage_then_lose_race(df, partition_by, **kw):
        adds = original_stage(df, partition_by, **kw)
        rival.write(orders.limit(3), mode="append")  # rival takes v1
        return adds

    tmp_table._stage_data_files = stage_then_lose_race
    version = tmp_table.write(orders.limit(5), mode="append")
    assert version == 2  # rebased past the rival's v1
    assert tmp_table.read().count() == 28  # 20 + 3 + 5: nothing lost
    ops = [h.get("operation") for h in tmp_table.history()]
    assert ops.count("WRITE") == 3


def test_concurrent_append_conflicting_schema_still_raises(spark, tmp_table):
    """Rebase is only for non-conflicting commits: if the race winner
    evolved the schema out from under the append, retrying would
    commit rows under the wrong shape — the conflict must surface."""
    orders = _orders(spark).limit(10).localCheckpoint(eager=True)
    tmp_table.write(orders)  # v0
    rival = MiniDeltaTable(spark, tmp_table.path)
    evolved = orders.withColumn("flag", F.lit(True))
    original_stage = tmp_table._stage_data_files

    def stage_then_lose_to_evolution(df, partition_by, **kw):
        adds = original_stage(df, partition_by, **kw)
        rival.write(evolved, overwrite_schema=True)  # v1 changes schema
        return adds

    tmp_table._stage_data_files = stage_then_lose_to_evolution
    with pytest.raises(ConcurrentWriteError):
        tmp_table.write(orders.limit(5), mode="append")


def test_add_actions_carry_footer_stats(spark, tmp_table):
    """Every add action records numRecords + per-column min/max read
    from the parquet footer (O(files) driver metadata, no data scan),
    as the protocol's stats string."""
    import json as _json

    orders = _orders(spark).limit(40).localCheckpoint(eager=True)
    tmp_table.write(orders.repartition(4))
    snap = tmp_table.snapshot()
    stats = [_json.loads(a["stats"]) for a in snap.files.values()]
    assert all(s["numRecords"] > 0 for s in stats)
    assert sum(s["numRecords"] for s in stats) == 40
    rows = orders.collect()
    lo = min(r["total_usd"] for r in rows)
    hi = max(r["total_usd"] for r in rows)
    assert min(float(s["minValues"]["total_usd"]) for s in stats) == float(lo)
    assert max(float(s["maxValues"]["total_usd"]) for s in stats) == float(hi)
    # dates serialize as ISO strings, which order like the values
    assert all("order_date" in s["minValues"] for s in stats)


def test_files_for_range_skips_and_stays_exact(spark, tmp_table):
    """Data skipping: range-partitioned files let a range predicate
    prune to a strict subset, and reading ONLY the surviving files
    (with the residual filter) equals the unpruned filtered read —
    skipping is a plan optimization, never a semantic one."""
    orders = _orders(spark).limit(60).localCheckpoint(eager=True)
    tmp_table.write(orders.repartitionByRange(4, "order_date"))
    dates = sorted(r["order_date"] for r in orders.collect())
    lo, hi = dates[5].isoformat(), dates[15].isoformat()
    pruned = tmp_table.files_for_range("order_date", lo, hi)
    everything = tmp_table.files_for_range("order_date")
    assert len(everything) == len(tmp_table.snapshot().files)
    assert 0 < len(pruned) < len(everything), (
        "range-clustered files should make skipping strictly effective"
    )
    got = (
        spark.read.parquet(*pruned)
        .filter(F.col("order_date").between(lo, hi))
    )
    want = tmp_table.read().filter(F.col("order_date").between(lo, hi))
    assert _canon(got) == _canon(want)
    # a disjoint range prunes everything
    assert tmp_table.files_for_range("order_date", "1900-01-01", "1900-12-31") == []


def test_stats_survive_checkpoint_replay(spark, tmp_table):
    orders = _orders(spark).limit(30).localCheckpoint(eager=True)
    tmp_table.write(orders.repartition(3))
    tmp_table.checkpoint()
    # a fresh handle replaying FROM the checkpoint still skips
    import json as _json

    reopened = MiniDeltaTable(spark, tmp_table.path)
    ckpt = reopened._best_checkpoint_at_or_before(reopened.versions()[-1])
    assert ckpt is not None
    snap = reopened.snapshot()
    stats = [_json.loads(a["stats"]) for a in snap.files.values() if a.get("stats")]
    assert stats and sum(s["numRecords"] for s in stats) == 30


def test_zorder_tightens_stats_for_skipping(spark, tmp_table):
    """OPTIMIZE ZORDER BY + data skipping compose: after clustering on
    two dimensions, a narrow range on EITHER dimension prunes files —
    the read-side payoff the rewrite exists for."""
    import json as _json

    df = spark.range(0, 4096).select(
        F.col("id"),
        (F.col("id") % 64).alias("a"),
        (F.col("id") / F.lit(64)).cast("long").alias("b"),
    )
    tmp_table.write(df.repartition(8))  # row-order layout: wide ranges
    # small size target => ~8 curve segments: with 3 segments the
    # minor-interleaved dimension's narrow cells span z-values right
    # up to a segment boundary, and pruning success hinged on the
    # range-sampler's quantile jitter (a real flake — observed both
    # passing and failing on identical code); at 512-z granularity
    # whole segments sit past the last a<4 cell structurally
    assert tmp_table.optimize(zorder_by=["a", "b"], max_file_bytes=6_000) is not None
    files = tmp_table.snapshot().files
    assert len(files) > 4
    for dim in ("a", "b"):
        pruned = tmp_table.files_for_range(dim, 0, 3)
        assert len(pruned) < len(files), (
            f"z-order should bound {dim} ranges tightly enough to skip files"
        )
        got = sorted(
            r["id"]
            for r in spark.read.parquet(*pruned)
            .filter(F.col(dim).between(0, 3))
            .collect()
        )
        want = sorted(
            r["id"] for r in df.filter(F.col(dim).between(0, 3)).collect()
        )
        assert got == want


def test_pruned_merge_rewrites_only_touched_files(spark, tmp_table):
    """prune_files=True: only files whose stats range can contain a
    source key are rewritten; the result relation is identical to the
    full-overwrite merge, untouched files survive the commit as-is,
    and the change feed's NET fold still equals the snapshot (the
    layout-independent CDF invariant)."""
    orders = _orders(spark).limit(80).localCheckpoint(eager=True)
    ids = sorted(r["order_id"] for r in orders.collect())
    tmp_table.write(orders.repartitionByRange(4, "order_id"))
    before = dict(tmp_table.snapshot().files)

    lowest = ids[: len(ids) // 8]  # keys confined to the lowest range
    picked = orders.filter(F.col("order_id").isin(lowest))
    source = picked.withColumn("status", F.lit("merged")).unionByName(
        picked.limit(1).withColumn("order_id", F.lit("!brand-new"))
    ).localCheckpoint(eager=True)

    v = tmp_table.merge(source, keys=["order_id"], prune_files=True)
    info = next(h for h in tmp_table.history() if h["version"] == v)
    assert info["operation"] == "MERGE"
    assert int(info["operationParameters"]["prunedFiles"]) > 0
    assert int(info["operationParameters"]["rewrittenFiles"]) < len(before)
    # untouched files survive by identity (same path, same add entry)
    after = tmp_table.snapshot().files
    surviving = set(before) & set(after)
    assert len(surviving) == int(info["operationParameters"]["prunedFiles"])

    # result == the full-overwrite merge's result, computed independently
    from ecommerce_lakehouse_platform_spark.operators.scd import merge_upsert

    want = merge_upsert(orders, source.select(*orders.columns), ["order_id"])
    assert _canon(tmp_table.read()) == _canon(want)

    # CDF net fold == snapshot even though per-row event counts are
    # layout-dependent under pruning
    cdf = tmp_table.changes(0)
    cols = [c for c in cdf.columns if not c.startswith("_")]
    net = (
        cdf.groupBy(*cols)
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("_net")
        )
        .filter(F.col("_net") > 0)
        .drop("_net")
    )
    assert _canon(net) == _canon(want)


def test_pruned_merge_multikey_falls_back(spark, tmp_table):
    orders = _orders(spark).limit(20).localCheckpoint(eager=True)
    tmp_table.write(orders.repartition(2))
    source = orders.limit(3).withColumn("status", F.lit("merged"))
    v = tmp_table.merge(
        source, keys=["order_id", "customer_id"], prune_files=True
    )
    info = next(h for h in tmp_table.history() if h["version"] == v)
    assert info["operation"] == "WRITE"  # full overwrite fallback
    assert tmp_table.read().filter(F.col("status") == "merged").count() == 3


def test_read_where_skips_files_and_filters_exactly(spark, tmp_table):
    """read(where=(col, lo, hi)): data skipping feeds the scan only
    surviving files and the residual filter makes the result exactly
    the filtered relation; an impossible range reads zero files but
    keeps the schema."""
    orders = _orders(spark).limit(60).localCheckpoint(eager=True)
    tmp_table.write(orders.repartitionByRange(4, "order_date"))
    dates = sorted(r["order_date"] for r in orders.collect())
    lo, hi = dates[10].isoformat(), dates[20].isoformat()
    got = tmp_table.read(where=("order_date", lo, hi))
    want = tmp_table.read().filter(F.col("order_date").between(lo, hi))
    assert _canon(got) == _canon(want)
    # the pruned plan reads strictly fewer files than the table holds
    n_files = len(tmp_table.snapshot().files)
    n_scanned = got._jdf.queryExecution().executedPlan().toString().count(
        ".parquet"
    )
    assert 0 < len(tmp_table.files_for_range("order_date", lo, hi)) < n_files
    empty = tmp_table.read(where=("order_date", "1900-01-01", "1900-02-01"))
    assert empty.count() == 0
    assert empty.schema == tmp_table.read().schema
    # open-ended bounds work too
    tail = tmp_table.read(where=("order_date", hi, None))
    assert _canon(tail) == _canon(
        tmp_table.read().filter(F.col("order_date") >= hi)
    )


def test_txn_action_is_an_idempotence_ledger(spark, tmp_table):
    """The protocol's txn action: (appId, version) stamps ride in the
    same atomic commit as the data, last_txn_version reads the
    high-water mark per app, and the ledger survives checkpoint
    consolidation and log expiry like the file list does."""
    orders = _orders(spark).limit(12).localCheckpoint(eager=True)
    assert tmp_table.last_txn_version("job-a") is None
    tmp_table.write(orders, txn=("job-a", 0))
    tmp_table.write(orders.limit(3), mode="append", txn=("job-a", 1))
    tmp_table.write(orders.limit(2), mode="append", txn=("job-b", 7))
    assert tmp_table.last_txn_version("job-a") == 1
    assert tmp_table.last_txn_version("job-b") == 7
    assert tmp_table.last_txn_version("job-c") is None
    # ledger survives checkpoint + a fresh handle replaying FROM it
    tmp_table.checkpoint()
    reopened = MiniDeltaTable(spark, tmp_table.path)
    assert reopened.snapshot().app_versions == {"job-a": 1, "job-b": 7}


def test_streaming_sink_exactly_once_append(spark, tmp_table):
    """foreachBatch → MiniDelta: a real availableNow streaming query
    lands every row exactly once, and a REPLAYED epoch (same batch id
    re-delivered after a checkpoint/commit race) is a no-op instead
    of a duplicate append."""
    from ecommerce_lakehouse_platform_spark.streaming.delta_sink import (
        delta_append_batch,
        run_stream_to_minidelta_bounded,
    )

    orders = _orders(spark).limit(30).localCheckpoint(eager=True)
    run_stream_to_minidelta_bounded(spark, orders, tmp_table, "silver-job")
    assert _canon(tmp_table.read()) == _canon(orders)
    last = tmp_table.last_txn_version("silver-job")
    assert last is not None and last >= 0
    n_versions = len(tmp_table.versions())

    # replay the last epoch (at-least-once delivery): idempotent skip
    handle = delta_append_batch(tmp_table, "silver-job")
    handle(orders.limit(5), last)
    assert len(tmp_table.versions()) == n_versions  # no new commit
    assert _canon(tmp_table.read()) == _canon(orders)  # no duplicates

    # the NEXT epoch commits normally
    handle(orders.limit(5), last + 1)
    assert tmp_table.read().count() == 35
    assert tmp_table.last_txn_version("silver-job") == last + 1


def test_delete_rewrites_only_touched_files(spark, tmp_table):
    """DELETE: the discovery scan finds the files containing matches,
    only those are rewritten (history shows the pruned/rewritten
    split), the deleted rows are gone and everything else survives —
    including rows that shared a file with a deleted row. A
    no-match delete is a no-op returning None."""
    orders = _orders(spark).limit(80).localCheckpoint(eager=True)
    ids = sorted(r["order_id"] for r in orders.collect())
    tmp_table.write(orders.repartitionByRange(4, "order_id"))
    before = dict(tmp_table.snapshot().files)

    victims = ids[:3]  # confined to the lowest range file(s)
    v = tmp_table.delete(F.col("order_id").isin(victims))
    assert v == 1
    info = next(h for h in tmp_table.history() if h["version"] == v)
    assert info["operation"] == "DELETE"
    assert int(info["operationParameters"]["prunedFiles"]) > 0
    after = tmp_table.snapshot().files
    assert len(set(before) & set(after)) == int(
        info["operationParameters"]["prunedFiles"]
    )
    got = {r["order_id"] for r in tmp_table.read().collect()}
    assert got == set(ids) - set(victims)
    # time travel still shows the pre-delete relation
    assert tmp_table.read(version=0).count() == 80
    # no matches: no commit at all
    assert tmp_table.delete(F.col("order_id") == "!nope") is None
    assert len(tmp_table.versions()) == 2


def test_update_applies_assignments_with_schema_enforcement(spark, tmp_table):
    """UPDATE: assigned expressions hit only matching rows, are cast
    to the logged column type, untouched files survive, and assigning
    a column the table does not have raises."""
    orders = _orders(spark).limit(60).localCheckpoint(eager=True)
    ids = sorted(r["order_id"] for r in orders.collect())
    tmp_table.write(orders.repartitionByRange(4, "order_id"))
    n_files = len(tmp_table.snapshot().files)

    targets = ids[:4]
    cond = F.col("order_id").isin(targets)
    v = tmp_table.update(
        cond,
        {"status": F.lit("VOID"), "total_usd": F.col("total_usd") * 0},
    )
    info = next(h for h in tmp_table.history() if h["version"] == v)
    assert info["operation"] == "UPDATE"
    assert int(info["operationParameters"]["rewrittenFiles"]) < n_files
    rows = {r["order_id"]: r for r in tmp_table.read().collect()}
    assert len(rows) == 60  # row count unchanged
    for oid in targets:
        assert rows[oid]["status"] == "VOID"
        assert float(rows[oid]["total_usd"]) == 0.0
    untouched = [oid for oid in ids if oid not in targets]
    original = {r["order_id"]: r for r in orders.collect()}
    for oid in untouched:
        assert rows[oid]["status"] == original[oid]["status"]
        assert rows[oid]["total_usd"] == original[oid]["total_usd"]
    # schema enforcement: unknown assignment column fails loudly
    with pytest.raises(SchemaMismatchError):
        tmp_table.update(cond, {"not_a_column": F.lit(1)})
    # CDF net fold over the whole history equals the final snapshot
    cdf = tmp_table.changes(0)
    cols = [c for c in cdf.columns if not c.startswith("_")]
    net = (
        cdf.groupBy(*cols)
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("_net")
        )
        .filter(F.col("_net") > 0)
        .drop("_net")
    )
    assert _canon(net) == _canon(tmp_table.read())


def test_check_constraints_enforced_on_write(spark, tmp_table):
    """CHECK constraints: adding one validates existing rows, every
    later write enforces it (NULL passes — SQL semantics), the
    property survives schema evolution and checkpoint consolidation,
    and dropping it lifts the gate."""
    from ecommerce_lakehouse_platform_spark.sources.deltalog import (
        ConstraintViolationError,
    )

    orders = _orders(spark).limit(20).localCheckpoint(eager=True)
    tmp_table.write(orders)
    v = tmp_table.set_constraint("nonneg_total", "total_usd >= 0")
    assert v == 1
    # a violating append fails BEFORE anything is committed
    bad = orders.limit(2).withColumn("total_usd", F.lit(-5.0).cast(
        orders.schema["total_usd"].dataType))
    with pytest.raises(ConstraintViolationError) as exc:
        tmp_table.write(bad, mode="append")
    assert "nonneg_total" in str(exc.value)
    assert len(tmp_table.versions()) == 2  # no partial commit
    # a clean append passes; NULLs pass (SQL CHECK semantics)
    nulls = orders.limit(1).withColumn("total_usd", F.lit(None).cast(
        orders.schema["total_usd"].dataType))
    tmp_table.write(nulls, mode="append")
    assert tmp_table.read().count() == 21
    # the check sits on the written projection, not a Filter the
    # optimizer could push below a join: violating rows of the join's
    # left side that find no match are never written, so never refused
    ids = sorted(r["order_id"] for r in orders.collect())
    left = orders.withColumn(
        "total_usd",
        F.when(
            F.col("order_id") == ids[0], F.lit(-5.0).cast(
                orders.schema["total_usd"].dataType)
        ).otherwise(F.col("total_usd")),
    )
    right = orders.select("order_id").filter(F.col("order_id") != ids[0])
    tmp_table.write(
        left.join(right, "order_id").select(*orders.columns), mode="append"
    )
    assert tmp_table.read().count() == 40
    # the property survives a schema evolution...
    evolved = tmp_table.read().withColumn("flag", F.lit(True))
    tmp_table.write(evolved, overwrite_schema=True)
    assert "delta.constraints.nonneg_total" in tmp_table.snapshot().configuration
    with pytest.raises(ConstraintViolationError):
        tmp_table.write(
            evolved.withColumn("total_usd", F.lit(-1.0).cast(
                orders.schema["total_usd"].dataType)),
            mode="append",
        )
    # ...and a checkpoint round-trip
    tmp_table.checkpoint()
    reopened = MiniDeltaTable(spark, tmp_table.path)
    assert (
        reopened.snapshot().configuration[
            "delta.constraints.nonneg_total"
        ]
        == "total_usd >= 0"
    )
    # adding a constraint existing rows violate is refused
    with pytest.raises(ConstraintViolationError):
        tmp_table.set_constraint("impossible", "total_usd > 1e12")
    # dropping lifts the gate; dropping twice is a no-op
    assert tmp_table.drop_constraint("nonneg_total") is not None
    tmp_table.write(
        evolved.withColumn("total_usd", F.lit(-1.0).cast(
            orders.schema["total_usd"].dataType)),
        mode="append",
    )
    assert tmp_table.drop_constraint("nonneg_total") is None


def test_deletion_vectors_delete_without_rewrite(spark, tmp_table):
    """delete(use_dv=True): no data file is rewritten — the touched
    adds re-commit carrying a deletionVector descriptor whose parquet
    sidecar holds the deleted positions; reads anti-join it away,
    time travel still sees the pre-delete rows, a second DV delete
    folds positions forward (superseding the first sidecar, which
    vacuum then reaps while reads stay correct), and OPTIMIZE
    materializes the DVs into a clean layout."""
    from ecommerce_lakehouse_platform_spark.sources.deltalog import (
        MiniDeltaTable,
    )

    orders = _orders(spark).limit(60).localCheckpoint(eager=True)
    ids = sorted(r["order_id"] for r in orders.collect())
    tmp_table.write(orders.repartitionByRange(4, "order_id"))
    files_v0 = set(tmp_table.snapshot().files)

    v1 = tmp_table.delete(F.col("order_id").isin(ids[:3]), use_dv=True)
    assert v1 == 1
    info = next(h for h in tmp_table.history() if h["version"] == v1)
    assert info["operationParameters"]["mode"] == "deletion-vectors"
    assert int(info["operationParameters"]["rewrittenFiles"]) == 0
    snap = tmp_table.snapshot()
    assert set(snap.files) == files_v0, "no data file may be rewritten"
    dv_adds = [a for a in snap.files.values() if a.get("deletionVector")]
    assert dv_adds and sum(
        a["deletionVector"]["cardinality"] for a in dv_adds
    ) == 3
    assert {r["order_id"] for r in tmp_table.read().collect()} == set(ids[3:])
    assert tmp_table.read(version=0).count() == 60  # time travel intact

    # second DV delete: victim in ANOTHER file + one in the same file
    first_sidecar = dv_adds[0]["deletionVector"]["storagePath"]
    v2 = tmp_table.delete(
        F.col("order_id").isin([ids[3], ids[-1]]), use_dv=True
    )
    assert v2 == 2
    assert {r["order_id"] for r in tmp_table.read().collect()} == set(
        ids[4:-1]
    )
    # re-deleting already-deleted rows is a no-op
    assert tmp_table.delete(F.col("order_id").isin(ids[:2]), use_dv=True) is None

    # a non-DV rewrite (UPDATE) must not resurrect DV-deleted rows
    tmp_table.update(
        F.col("order_id") == ids[10], {"status": F.lit("TOUCHED")}
    )
    got = {r["order_id"] for r in tmp_table.read().collect()}
    assert got == set(ids[4:-1])

    # read(where=...) works over a DV snapshot: skipping + residual
    lo, hi = ids[4], ids[20]
    where_read = {
        r["order_id"]
        for r in tmp_table.read(where=("order_id", lo, hi)).collect()
    }
    assert where_read == {i for i in ids[4:-1] if lo <= i <= hi}

    # CDF spans the DV commits (checked BEFORE vacuum, which destroys
    # time travel to the superseded sidecar): each DV commit surfaces
    # as row-level delete events for exactly the newly-deleted
    # positions — no delete-all/insert-all of the touched files — and
    # the net fold over the whole feed equals the live relation
    cdf = tmp_table.changes(0)
    v1_events = dict(
        (r["_change_type"], r["count"])
        for r in cdf.filter(F.col("_commit_version") == v1)
        .groupBy("_change_type")
        .count()
        .collect()
    )
    assert v1_events == {"delete": 3}
    assert {
        r["order_id"]
        for r in cdf.filter(
            (F.col("_commit_version") == v1)
            & (F.col("_change_type") == "delete")
        ).collect()
    } == set(ids[:3])
    v2_events = dict(
        (r["_change_type"], r["count"])
        for r in cdf.filter(F.col("_commit_version") == v2)
        .groupBy("_change_type")
        .count()
        .collect()
    )
    assert v2_events == {"delete": 2}
    cols = [c for c in cdf.columns if not c.startswith("_")]
    net = (
        cdf.groupBy(*cols)
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("_net")
        )
        .filter(F.col("_net") > 0)
        .drop("_net")
    )
    assert _canon(net) == _canon(tmp_table.read())
    # a later copy-on-write rewrite (the UPDATE above) removing a
    # DV-carrying file must NOT re-emit the DV'd rows as deletes: each
    # DV-deleted row gets exactly one insert (v0) and one delete (its
    # DV commit) across the whole feed — never a second delete from
    # the rewrite's file reconstruction
    per_row = (
        cdf.filter(F.col("order_id").isin(ids[:3] + [ids[3], ids[-1]]))
        .groupBy("order_id", "_change_type")
        .count()
        .collect()
    )
    assert all(r["count"] == 1 for r in per_row), per_row

    # the sidecar is hive-partitioned per touched data file (the
    # protocol's per-file-bitmap shape): no single-task position list
    sidecar_dirs = {
        a["deletionVector"]["storagePath"]
        for a in tmp_table.snapshot().files.values()
        if a.get("deletionVector")
    }
    for sc in sidecar_dirs:
        parts_dirs = [
            n
            for n in os.listdir(os.path.join(tmp_table.path, sc))
            if n.startswith("rel=")
        ]
        assert parts_dirs, f"sidecar {sc} is not per-file partitioned"

    # shallow clone carries the DV references absolutely: the clone
    # reads identically, zero data or sidecars copied, and inherits
    # the DV protocol gate
    clone = tmp_table.clone(tmp_table.path + "_clone")
    assert {r["order_id"] for r in clone.read().collect()} == got
    assert not [
        name
        for root, _dirs, names in os.walk(clone.path)
        if "_delta_log" not in root
        for name in names
        if name.endswith(".parquet")
    ]

    # the superseded first sidecar is vacuumable; the live ones are not
    reclaimed = tmp_table.vacuum()
    assert any(r.startswith("_dv/") for r in reclaimed)
    assert first_sidecar in {r for r in reclaimed if r.startswith("_dv/")}
    assert {r["order_id"] for r in tmp_table.read().collect()} == got

    # checkpoint round-trips the descriptors
    tmp_table.checkpoint()
    reopened = MiniDeltaTable(spark, tmp_table.path)
    assert {r["order_id"] for r in reopened.read().collect()} == got

    # OPTIMIZE materializes: descriptors gone, relation unchanged
    assert tmp_table.optimize() is not None
    snap2 = tmp_table.snapshot()
    assert not any(a.get("deletionVector") for a in snap2.files.values())
    assert {r["order_id"] for r in tmp_table.read().collect()} == got


def test_timestamp_as_of_time_travel(spark, tmp_table):
    """TIMESTAMP AS OF: reads resolve to the newest commit at-or-
    before the instant; a pre-table timestamp raises; version= and
    timestamp_ms= are mutually exclusive."""
    orders = _orders(spark).limit(20).localCheckpoint(eager=True)
    tmp_table.write(orders)  # v0
    tmp_table.write(orders.limit(5))  # v1
    hist = {h["version"]: int(h["timestamp"]) for h in tmp_table.history()}
    assert tmp_table.version_at_timestamp(hist[0]) == 0
    assert tmp_table.read(timestamp_ms=hist[0]).count() == 20
    assert tmp_table.read(timestamp_ms=hist[1] + 10_000).count() == 5
    # between the commits (or exactly at v1) resolves at-or-before
    assert tmp_table.version_at_timestamp(hist[1]) == 1
    with pytest.raises(ValueError):
        tmp_table.read(timestamp_ms=hist[0] - 1)
    with pytest.raises(ValueError):
        tmp_table.read(version=0, timestamp_ms=hist[0])


def test_protocol_gating_for_deletion_vectors(spark, tmp_table):
    """A DV commit bumps the protocol to reader 3 / writer 7 (older
    readers must refuse rather than resurrect deleted rows), and a
    table demanding a FUTURE reader version is refused loudly."""
    orders = _orders(spark).limit(10).localCheckpoint(eager=True)
    tmp_table.write(orders)
    ids = sorted(r["order_id"] for r in orders.collect())
    tmp_table.delete(F.col("order_id") == ids[0], use_dv=True)
    with open(tmp_table._version_file(1), encoding="utf-8") as fh:
        actions = [json.loads(line) for line in fh]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    # r12: the 3/7 upgrade carries the table-feature lists the real
    # protocol requires at those versions
    assert proto == {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors"],
        "writerFeatures": ["deletionVectors"],
    }
    assert tmp_table.read().count() == 9  # still readable by us
    # forward-compat refusal: a hypothetical newer table is rejected
    tmp_table._commit(2, [
        {"commitInfo": {"operation": "UPGRADE"}},
        {"protocol": {"minReaderVersion": 9, "minWriterVersion": 9}},
    ])
    with pytest.raises(NotImplementedError):
        tmp_table.read()
    # time travel to the pre-upgrade version still works
    assert tmp_table.read(version=1).count() == 9


def test_generated_columns_computed_and_enforced(spark, tmp_table):
    """Generated columns: declaring one validates existing rows; a
    write that OMITS the column gets it computed; a write that
    provides WRONG values is refused; the declaration survives in the
    schema metadata for fresh handles."""
    from ecommerce_lakehouse_platform_spark.sources.deltalog import (
        ConstraintViolationError,
    )

    orders = _orders(spark).limit(20).localCheckpoint(eager=True)
    with_month = orders.withColumn(
        "order_month", F.date_format("order_date", "yyyy-MM")
    ).localCheckpoint(eager=True)
    tmp_table.write(with_month)
    v = tmp_table.set_generated_column(
        "order_month", "date_format(order_date, 'yyyy-MM')"
    )
    assert v == 1

    # a write omitting the column has it computed
    tmp_table.write(with_month.drop("order_month").limit(4), mode="append")
    got = tmp_table.read().filter(F.col("order_month").isNull()).count()
    assert got == 0
    assert tmp_table.read().count() == 24
    sample = tmp_table.read().limit(5).collect()
    for r in sample:
        assert r["order_month"] == r["order_date"].strftime("%Y-%m")

    # providing values that disagree with the expression is refused
    bad = with_month.limit(2).withColumn("order_month", F.lit("9999-99"))
    with pytest.raises(ConstraintViolationError) as exc:
        tmp_table.write(bad, mode="append")
    assert "order_month" in str(exc.value)

    # declaring over disagreeing existing data is refused
    with pytest.raises(ConstraintViolationError):
        tmp_table.set_generated_column("status", "upper(priority)")
    with pytest.raises(SchemaMismatchError):
        tmp_table.set_generated_column("nope", "1")

    # the declaration persists for a fresh handle
    reopened = MiniDeltaTable(spark, tmp_table.path)
    assert reopened._generation_exprs(reopened.snapshot().schema) == {
        "order_month": "date_format(order_date, 'yyyy-MM')"
    }


def test_describe_detail(spark, tmp_table):
    orders = _orders(spark).limit(20).localCheckpoint(eager=True)
    tmp_table.write(orders.repartition(2))
    tmp_table.set_constraint("nonneg", "total_usd >= 0")
    ids = sorted(r["order_id"] for r in orders.collect())
    tmp_table.delete(F.col("order_id") == ids[0], use_dv=True)
    d = tmp_table.detail()
    assert d["numFiles"] == 2 and d["version"] == 2
    assert d["sizeInBytes"] > 0
    assert d["numDeletionVectors"] == 1 and d["deletedRowCount"] == 1
    assert d["properties"] == {"delta.constraints.nonneg": "total_usd >= 0"}
    assert d["partitionColumns"] == []


def test_replace_where_partition_scoped_overwrite(spark, tmp_table):
    """replace_where: the overwrite removes only the matching
    partition's files, incoming rows must all match the filter, keys
    must be partition columns, and the change feed scopes to the
    replaced partition."""
    from ecommerce_lakehouse_platform_spark.sources.deltalog import (
        ConstraintViolationError,
    )

    orders = _orders(spark).withColumn(
        "order_month", F.date_format("order_date", "yyyy-MM")
    ).localCheckpoint(eager=True)
    months = sorted(
        r["order_month"] for r in orders.select("order_month").distinct().collect()
    )
    assert len(months) >= 2
    m0, m1 = months[0], months[1]
    tmp_table.write(orders, partition_by=["order_month"])  # v0
    files_v0 = dict(tmp_table.snapshot().files)
    other_files = {
        rel
        for rel, add in files_v0.items()
        if add["partitionValues"].get("order_month") != m0
    }

    patch = (
        orders.filter(F.col("order_month") == m0)
        .withColumn("status", F.lit("BACKFILLED"))
        .localCheckpoint(eager=True)
    )
    v1 = tmp_table.write(
        patch, replace_where={"order_month": m0}
    )
    assert v1 == 1
    snap = tmp_table.snapshot()
    # untouched partitions keep their exact v0 files
    assert other_files <= set(snap.files)
    # the scoped partition was fully replaced
    got = tmp_table.read()
    assert got.filter(
        (F.col("order_month") == m0) & (F.col("status") != "BACKFILLED")
    ).count() == 0
    assert _canon(got.filter(F.col("order_month") != m0)) == _canon(
        orders.filter(F.col("order_month") != m0)
    )
    # CDF: deletes only in the replaced partition
    cdf = tmp_table.changes(v1, v1)
    assert cdf.filter(
        (F.col("_change_type") == "delete") & (F.col("order_month") != m0)
    ).count() == 0

    # stray rows (outside the replaced partition) are rejected inside
    # the write job: no new version, no new file under the root
    on_disk = sorted(
        os.path.join(root, n)
        for root, _dirs, names in os.walk(tmp_table.path)
        for n in names
    )
    with pytest.raises(ConstraintViolationError):
        tmp_table.write(
            orders.filter(F.col("order_month") == m1),
            replace_where={"order_month": m0},
        )
    assert tmp_table.versions() == [0, 1]
    assert on_disk == sorted(
        os.path.join(root, n)
        for root, _dirs, names in os.walk(tmp_table.path)
        for n in names
    )
    # non-partition keys are rejected
    with pytest.raises(SchemaMismatchError):
        tmp_table.write(patch, replace_where={"status": "BACKFILLED"})
    # append / overwrite_schema composition is rejected
    with pytest.raises(ValueError):
        tmp_table.write(patch, mode="append", replace_where={"order_month": m0})


def test_replace_where_disjoint_race_rebases(spark, tmp_table):
    """Two concurrent partition-scoped overwrites over DISJOINT
    partitions both land (the loser rebases); overlapping partitions
    still surface the conflict."""
    orders = _orders(spark).withColumn(
        "order_month", F.date_format("order_date", "yyyy-MM")
    ).localCheckpoint(eager=True)
    months = sorted(
        r["order_month"] for r in orders.select("order_month").distinct().collect()
    )
    m0, m1 = months[0], months[1]
    tmp_table.write(orders, partition_by=["order_month"])  # v0
    rival = MiniDeltaTable(spark, tmp_table.path)
    mine = (
        orders.filter(F.col("order_month") == m0)
        .withColumn("status", F.lit("MINE"))
        .localCheckpoint(eager=True)
    )
    theirs = (
        orders.filter(F.col("order_month") == m1)
        .withColumn("status", F.lit("THEIRS"))
        .localCheckpoint(eager=True)
    )
    original_stage = tmp_table._stage_data_files

    def stage_then_lose_race(df, partition_by, **kw):
        adds = original_stage(df, partition_by, **kw)
        rival.write(theirs, replace_where={"order_month": m1})  # takes v1
        return adds

    tmp_table._stage_data_files = stage_then_lose_race
    version = tmp_table.write(mine, replace_where={"order_month": m0})
    assert version == 2  # rebased past the rival's disjoint v1
    got = tmp_table.read()
    assert got.filter(F.col("order_month") == m0).filter(
        F.col("status") != "MINE"
    ).count() == 0
    assert got.filter(F.col("order_month") == m1).filter(
        F.col("status") != "THEIRS"
    ).count() == 0
    assert got.count() == orders.count()

    # overlapping: the rival replaces the SAME partition → conflict
    tmp_table2 = MiniDeltaTable(spark, tmp_table.path)
    original_stage2 = tmp_table2._stage_data_files

    def stage_then_lose_overlap(df, partition_by, **kw):
        adds = original_stage2(df, partition_by, **kw)
        rival.write(mine, replace_where={"order_month": m0})
        return adds

    tmp_table2._stage_data_files = stage_then_lose_overlap
    with pytest.raises(ConcurrentWriteError):
        tmp_table2.write(
            mine.withColumn("status", F.lit("LOSER")),
            replace_where={"order_month": m0},
        )


def test_dml_enforces_constraints_and_generated(spark, tmp_table):
    """UPDATE and pruned MERGE hold the write-path invariant: a
    replacement relation violating a CHECK constraint or a generated
    column's expression refuses to commit, and the table is unchanged."""
    from ecommerce_lakehouse_platform_spark.sources.deltalog import (
        ConstraintViolationError,
    )

    orders = _orders(spark).limit(20).localCheckpoint(eager=True)
    tmp_table.write(orders)
    tmp_table.set_constraint("nonneg", "total_usd >= 0")
    ids = sorted(r["order_id"] for r in orders.collect())
    before = _canon(tmp_table.read())

    with pytest.raises(ConstraintViolationError):
        tmp_table.update(
            F.col("order_id") == ids[0], {"total_usd": F.lit(-5.0)}
        )
    assert _canon(tmp_table.read()) == before

    # pruned MERGE: a source row violating the constraint refuses too
    bad_source = (
        tmp_table.read()
        .filter(F.col("order_id") == ids[0])
        .withColumn("total_usd", F.lit(-1.0))
        .localCheckpoint(eager=True)
    )
    with pytest.raises(ConstraintViolationError):
        tmp_table.merge(bad_source, ["order_id"], prune_files=True)
    assert _canon(tmp_table.read()) == before
    # a NULL passes the CHECK (SQL semantics) on the DML path as well
    tmp_table.update(
        F.col("order_id") == ids[1],
        {"total_usd": F.lit(None)},
        use_dv=True,
    )
    nulled = tmp_table.read().filter(F.col("order_id") == ids[1]).first()
    assert nulled["total_usd"] is None

    # generated column: an UPDATE breaking the expression refuses
    tmp_table.drop_constraint("nonneg")
    tbl2 = MiniDeltaTable(spark, tmp_table.path + "_gen")
    tbl2.write(
        orders.withColumn(
            "order_month", F.date_format("order_date", "yyyy-MM")
        )
    )
    tbl2.set_generated_column(
        "order_month", "date_format(order_date, 'yyyy-MM')"
    )
    with pytest.raises(ConstraintViolationError):
        tbl2.update(
            F.col("order_id") == ids[0], {"order_month": F.lit("9999-99")}
        )
    shutil.rmtree(tbl2.path, ignore_errors=True)


def test_restore_and_clone_preserve_configuration(spark, tmp_table):
    """RESTORE rolls table properties back WITH the schema and CLONE
    copies them — CHECK constraints stay enforced on both (r8 advice:
    an empty configuration silently disabled them)."""
    from ecommerce_lakehouse_platform_spark.sources.deltalog import (
        ConstraintViolationError,
    )

    orders = _orders(spark).limit(20).localCheckpoint(eager=True)
    tmp_table.write(orders)  # v0
    tmp_table.set_constraint("nonneg", "total_usd >= 0")  # v1
    tmp_table.write(orders.limit(5), mode="append")  # v2
    bad = orders.withColumn("total_usd", F.lit(-1.0))

    tmp_table.restore(2)  # v3: restore to a constrained version
    assert (
        tmp_table.snapshot().configuration.get("delta.constraints.nonneg")
        == "total_usd >= 0"
    )
    with pytest.raises(ConstraintViolationError):
        tmp_table.write(bad, mode="append")

    clone = tmp_table.clone(tmp_table.path + "_clone")
    assert (
        clone.snapshot().configuration.get("delta.constraints.nonneg")
        == "total_usd >= 0"
    )
    with pytest.raises(ConstraintViolationError):
        clone.write(bad.localCheckpoint(eager=True), mode="append")

    # restoring to the PRE-constraint version drops the property —
    # the rollback is of the whole metadata, both directions
    tmp_table.restore(0)
    assert "delta.constraints.nonneg" not in tmp_table.snapshot().configuration
    shutil.rmtree(clone.path, ignore_errors=True)


def test_overwrite_schema_drops_generated_column(spark, tmp_table):
    """An explicit overwrite_schema evolution that DROPS a generated
    column must not silently re-add it (or fail on the stale
    expression) — the evolution replaces the metaData (r8 advice)."""
    orders = _orders(spark).limit(20).localCheckpoint(eager=True)
    tmp_table.write(
        orders.withColumn(
            "order_month", F.date_format("order_date", "yyyy-MM")
        )
    )
    tmp_table.set_generated_column(
        "order_month", "date_format(order_date, 'yyyy-MM')"
    )
    evolved = orders.drop("order_date")  # generation inputs gone too
    tmp_table.write(evolved, mode="overwrite", overwrite_schema=True)
    assert "order_month" not in [f.name for f in tmp_table.snapshot().schema]
    assert tmp_table._generation_exprs(tmp_table.snapshot().schema) == {}
    assert _canon(tmp_table.read()) == _canon(evolved)


def test_timestamp_as_of_monotonizes_clock_skew(spark, tmp_table):
    """Clock skew between writers (a later version stamped EARLIER)
    must not make TIMESTAMP AS OF return an older version than the
    newest at-or-before: effective timestamps are monotonized like
    the real resolver's adjustment."""
    orders = _orders(spark).limit(10).localCheckpoint(eager=True)
    tmp_table.write(orders)  # v0
    tmp_table.write(orders.limit(5))  # v1
    tmp_table.write(orders.limit(3))  # v2
    hist = {h["version"]: int(h["timestamp"]) for h in tmp_table.history()}
    # rewrite v1's commitInfo timestamp to BEFORE v0 (skewed writer)
    path = tmp_table._version_file(1)
    lines = open(path).read().splitlines()
    out = []
    for line in lines:
        action = json.loads(line)
        if "commitInfo" in action:
            action["commitInfo"]["timestamp"] = hist[0] - 60_000
        out.append(json.dumps(action, separators=(",", ":")))
    os.chmod(path, 0o644)
    with open(path, "w") as fh:
        fh.write("\n".join(out) + "\n")
    # at v0's instant the newest at-or-before is v1 (monotonized up
    # to v0's timestamp), not v0
    assert tmp_table.version_at_timestamp(hist[0]) == 1
    assert tmp_table.version_at_timestamp(hist[2]) == 2
    with pytest.raises(ValueError):
        tmp_table.version_at_timestamp(hist[0] - 120_000)


def test_column_mapping_rename_and_drop_without_rewrite(spark, tmp_table):
    """Column mapping (mode=name): RENAME/DROP COLUMN are
    metadata-only — zero data files rewritten, reads map physical →
    logical, writes land under the stable physical names, time travel
    surfaces the old logical names, data skipping keys stats by
    physical name, and DML works over the renamed schema."""
    orders = _orders(spark).limit(30).localCheckpoint(eager=True)
    tmp_table.write(orders.repartition(2))  # v0
    files_v0 = set(tmp_table.snapshot().files)

    with pytest.raises(SchemaMismatchError):
        tmp_table.rename_column("status", "order_status")  # mapping off

    v1 = tmp_table.enable_column_mapping()
    assert v1 == 1
    assert tmp_table.enable_column_mapping() == 1  # idempotent
    v2 = tmp_table.rename_column("status", "order_status")
    assert v2 == 2
    snap = tmp_table.snapshot()
    assert set(snap.files) == files_v0, "rename must rewrite nothing"
    names = [f.name for f in snap.schema]
    assert "order_status" in names and "status" not in names
    got = tmp_table.read()
    assert _canon(got.withColumnRenamed("order_status", "status")) == _canon(
        orders
    )
    # time travel surfaces the OLD logical name
    assert "status" in tmp_table.read(version=0).columns

    # writes after the rename land under the stable PHYSICAL name and
    # read back logically — across both write() and DML
    extra = (
        orders.limit(5)
        .withColumnRenamed("status", "order_status")
        .withColumn("order_id", F.concat(F.lit("N"), F.col("order_id")))
        .localCheckpoint(eager=True)
    )
    tmp_table.write(extra, mode="append")
    assert tmp_table.read().count() == 35
    ids = sorted(r["order_id"] for r in orders.collect())
    tmp_table.update(
        F.col("order_id") == ids[0], {"order_status": F.lit("MAPPED")}
    )
    assert (
        tmp_table.read()
        .filter(F.col("order_id") == ids[0])
        .collect()[0]["order_status"]
        == "MAPPED"
    )
    # data skipping on the renamed column still prunes (stats live
    # under the physical name)
    lo = sorted(
        r["order_id"] for r in tmp_table.read().collect()
    )[0]
    assert tmp_table.read(where=("order_id", lo, lo)).count() == 1
    # CDF across the rename: old events under the old name
    feed = tmp_table.changes(0)
    assert {"status", "order_status"} <= set(feed.columns)

    # DROP COLUMN: metadata-only, the physical column stays on disk
    files_before_drop = set(tmp_table.snapshot().files)
    tmp_table.drop_column("order_status")
    assert set(tmp_table.snapshot().files) == files_before_drop
    assert "order_status" not in tmp_table.read().columns
    assert "order_status" in tmp_table.read(version=2).columns

    # guards: partition columns, referenced columns, evolution
    with pytest.raises(SchemaMismatchError):
        tmp_table.rename_column("missing", "x")
    with pytest.raises(SchemaMismatchError):
        tmp_table.rename_column("order_id", "total_usd")  # name taken
    tmp_table.set_constraint("nonneg", "total_usd >= 0")
    with pytest.raises(SchemaMismatchError):
        tmp_table.rename_column("total_usd", "amount")
    with pytest.raises(SchemaMismatchError):
        tmp_table.drop_column("total_usd")
    # a column name appearing only INSIDE a string literal is not a
    # reference: the guard must not refuse the rename for it
    tmp_table.set_constraint(
        "no_marker", "order_id <> 'priority removed'"
    )
    tmp_table.rename_column("priority", "prio")
    tmp_table.rename_column("prio", "priority")  # restore for below
    with pytest.raises(NotImplementedError):
        tmp_table.write(
            orders.limit(3).withColumn("flag", F.lit(True)),
            overwrite_schema=True,
        )


def test_column_mapping_partitioned_and_optimize(spark, tmp_table):
    """Mapping over a partitioned table: partition columns refuse to
    rename, non-partition renames read back correctly through hive
    partition recovery, and OPTIMIZE compacts a renamed table writing
    PHYSICAL columns (reads stay logical)."""
    orders = _orders(spark).withColumn(
        "order_month", F.date_format("order_date", "yyyy-MM")
    ).localCheckpoint(eager=True)
    tmp_table.write(orders, partition_by=["order_month"])
    tmp_table.write(orders, mode="append")  # 2 files/partition
    tmp_table.enable_column_mapping()
    with pytest.raises(SchemaMismatchError):
        tmp_table.rename_column("order_month", "month")
    tmp_table.rename_column("status", "order_status")
    want = _canon(
        orders.unionByName(orders).withColumnRenamed(
            "status", "order_status"
        )
    )
    assert _canon(tmp_table.read()) == want
    assert tmp_table.optimize() is not None
    assert _canon(tmp_table.read()) == want
    # the compacted files carry the PHYSICAL name on disk
    snap = tmp_table.snapshot()
    rel = sorted(snap.files)[0]
    raw = spark.read.parquet(os.path.join(tmp_table.path, rel))
    assert "status" in raw.columns and "order_status" not in raw.columns


def test_vacuum_retention_window(spark, tmp_table):
    """vacuum(retention_ms): files removed INSIDE the window survive
    (time travel to those versions stays intact); a second vacuum
    with no retention reclaims them; orphaned never-logged debris is
    reclaimable once it is older than the window (younger, it may be a
    writer's staged file), and always under RETAIN 0."""
    orders = _orders(spark).limit(20).localCheckpoint(eager=True)
    tmp_table.write(orders)  # v0
    tmp_table.write(orders.limit(5))  # v1: v0's files become inactive NOW

    # plant never-logged debris (a crashed writer's leftover), one
    # file two hours old and one fresh
    for name in ("orphan-debris.parquet", "fresh-debris.parquet"):
        with open(os.path.join(tmp_table.path, name), "wb") as fh:
            fh.write(b"PAR1junkPAR1")
    two_hours_ago = time.time() - 7200
    os.utime(
        os.path.join(tmp_table.path, "orphan-debris.parquet"),
        (two_hours_ago, two_hours_ago),
    )

    reclaimed = tmp_table.vacuum(retention_ms=3_600_000)  # 1h window
    assert "orphan-debris.parquet" in reclaimed
    assert all(r == "orphan-debris.parquet" for r in reclaimed), reclaimed
    # time travel to v0 still works — its files were inside the window
    assert tmp_table.read(version=0).count() == 20

    reclaimed2 = tmp_table.vacuum()  # RETAIN 0: reclaims v0's files
    assert reclaimed2, "expected the inactive v0 files to be reclaimed"
    assert "fresh-debris.parquet" in reclaimed2
    with pytest.raises(Exception):
        tmp_table.read(version=0).count()
    assert tmp_table.read().count() == 5


def test_bloom_index_point_lookup_pruning(spark, tmp_table):
    """build_bloom_index: point lookups prune files min/max stats
    cannot (high-cardinality UNORDERED column where every file's
    range overlaps every value); zero false negatives across every
    key; dataChange=false (CDF-invisible); bitsets survive
    checkpoint replay; post-index writes are conservatively kept."""
    orders = _orders(spark).limit(60).localCheckpoint(eager=True)
    # random layout => every file's order_id [min,max] spans the space
    tmp_table.write(orders.repartition(4))
    ids = sorted(r["order_id"] for r in orders.collect())
    files_before = set(tmp_table.snapshot().files)
    assert len(files_before) == 4
    # min/max alone barely prunes point lookups on this layout
    stats_only = sum(
        len(tmp_table.files_for_range("order_id", oid, oid)) for oid in ids
    )
    assert stats_only > len(ids) * 2, "fixture layout unexpectedly ordered"

    v = tmp_table.build_bloom_index("order_id", bits=4096, hashes=5)
    assert set(tmp_table.snapshot().files) == files_before  # no rewrite
    assert tmp_table.changes(v, v).count() == 0  # dataChange=false

    raw = {}  # ground truth: which file actually holds each id
    for rel in files_before:
        for r in spark.read.parquet(
            os.path.join(tmp_table.path, rel)
        ).collect():
            raw.setdefault(r["order_id"], set()).add(rel)
    pruned_any = False
    for oid in ids:  # NO false negatives, ever
        got = {
            os.path.relpath(p, tmp_table.path)
            for p in tmp_table.files_for_point("order_id", oid)
        }
        assert raw[oid] <= got, oid
        if len(got) < 4:
            pruned_any = True
    assert pruned_any, "bloom never pruned anything"
    # absent keys: usually pruned to fewer files (false-positive rate
    # at 60 keys / 4096 bits is tiny); read(where=) composes
    assert len(tmp_table.files_for_point("order_id", "absent-key")) < 4
    probe = ids[13]
    assert {
        r["order_id"]
        for r in tmp_table.read(where=("order_id", probe, probe)).collect()
    } == {probe}

    # checkpoint round-trips the tags
    tmp_table.checkpoint()
    reopened = MiniDeltaTable(spark, tmp_table.path)
    assert len(reopened.files_for_point("order_id", "absent-key")) < 4

    # files appended AFTER the index build are conservatively kept
    extra = orders.limit(3).withColumn(
        "order_id", F.concat(F.lit("Z"), F.col("order_id"))
    )
    tmp_table.write(extra.localCheckpoint(eager=True), mode="append")
    got = tmp_table.files_for_point("order_id", "Z" + ids[0])
    assert got, "the unindexed new file must be kept"

    # unsupported type refuses loudly
    with pytest.raises(SchemaMismatchError):
        tmp_table.build_bloom_index("total_usd")



def test_restore_across_dv_commits(spark, tmp_table):
    """RESTORE diffs logical files (path plus deletion vector): a file
    whose DV changed after the target version is removed and re-added
    under the target's DV, so the rows that DV deleted come back, and
    the restore commit's change feed folds to exactly the snapshot
    difference — for a DV that grew (restore(1)) and for one that did
    not exist yet (restore(0))."""
    from collections import Counter

    df = spark.range(0, 40).select(
        F.col("id").cast("string").alias("k"), F.col("id").alias("v")
    )
    tmp_table.write(df)  # v0
    tmp_table.delete(F.col("v") < 10, use_dv=True)  # v1
    tmp_table.delete(F.col("v") >= 35, use_dv=True)  # v2: DV grows

    def rows(df_):
        return Counter(tuple(r) for r in df_.select("k", "v").collect())

    for target, expected in ((1, 30), (0, 40)):
        v = tmp_table.restore(target)
        assert tmp_table.read().count() == expected
        assert rows(tmp_table.read()) == rows(tmp_table.read(version=target))
        fold: Counter = Counter()
        for r in tmp_table.changes(v, v).collect():
            fold[(r["k"], r["v"])] += (
                1 if r["_change_type"] == "insert" else -1
            )
        diff = rows(tmp_table.read(version=v))
        diff.subtract(rows(tmp_table.read(version=v - 1)))
        assert {k: n for k, n in fold.items() if n} == {
            k: n for k, n in diff.items() if n
        }

def test_restore_to_timestamp(spark, tmp_table):
    orders = _orders(spark).limit(10).localCheckpoint(eager=True)
    tmp_table.write(orders)  # v0
    tmp_table.write(orders.limit(4))  # v1
    hist = {h["version"]: int(h["timestamp"]) for h in tmp_table.history()}
    tmp_table.restore_to_timestamp(hist[0])
    assert tmp_table.read().count() == 10


def test_changes_expired_log_seeds_dv_state_from_checkpoint(
    spark, tmp_table
):
    """CDF over an expired log must seed the DELETION-VECTOR state
    from the checkpoint too: a rewrite (in the retained range) of a
    file whose DV committed BEFORE the expiry horizon must not
    re-emit the DV'd rows as deletes — the checkpoint's add actions
    carry the descriptors."""
    tmp_table.checkpoint_interval = 3
    orders = _orders(spark).limit(30).localCheckpoint(eager=True)
    ids = sorted(r["order_id"] for r in orders.collect())
    tmp_table.write(orders)  # v0
    tmp_table.delete(F.col("order_id").isin(ids[:5]), use_dv=True)  # v1
    tmp_table.write(orders.limit(3), mode="append")  # v2
    tmp_table.write(orders.limit(2), mode="append")  # v3 -> checkpoint
    assert tmp_table._checkpoint_versions() == [3]
    assert tmp_table.expire_log() == [0, 1, 2]

    # v4: UPDATE rewrites the DV-carrying file copy-on-write
    tmp_table.update(
        F.col("order_id") == ids[10], {"status": F.lit("TOUCHED")}
    )
    cdf = tmp_table.changes(4, 4)
    deleted = {
        r["order_id"]
        for r in cdf.filter(F.col("_change_type") == "delete").collect()
    }
    # the five DV'd rows must NOT resurface as v4 delete events
    assert not (deleted & set(ids[:5])), sorted(deleted & set(ids[:5]))
    assert ids[10] in deleted
    # and the fold equals the live relation (multiset)
    cols = [c for c in cdf.columns if not c.startswith("_")]
    full = tmp_table.changes(4)
    net = (
        full.groupBy(*cols)
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("_n")
        )
    )
    # v4 is delete+reinsert of surviving rows in the touched file:
    # every row nets to 0 except the updated one (+1 new, -1 old form)
    assert (
        net.filter(F.col("_n") > 0).count() == 1
        and net.filter(F.col("_n") < 0).count() == 1
    )


def test_dv_update_without_rewrite(spark, tmp_table):
    """update(use_dv=True): the matched rows' positions go dead under
    a deletion-vector sidecar and the REWRITTEN rows alone land as new
    files in the same commit — zero touched-file rewrites. The change
    feed shows delete(old)+insert(new) for exactly the matched rows
    (file-sharing neighbors contribute nothing), its fold equals the
    snapshot, constraints still gate, and a second DV update folds the
    first's positions forward."""
    orders = _orders(spark).limit(60).localCheckpoint(eager=True)
    ids = sorted(r["order_id"] for r in orders.collect())
    tmp_table.write(orders.repartitionByRange(4, "order_id"))
    files_v0 = set(tmp_table.snapshot().files)

    v1 = tmp_table.update(
        F.col("order_id").isin(ids[:3]),
        {"priority": F.lit("BUMPED")},
        use_dv=True,
    )
    assert v1 == 1
    info = next(h for h in tmp_table.history() if h["version"] == v1)
    assert info["operationParameters"]["mode"] == "deletion-vectors"
    assert int(info["operationParameters"]["rewrittenFiles"]) == 0
    assert int(info["operationParameters"]["newFiles"]) >= 1
    snap = tmp_table.snapshot()
    # originals all still active (now DV-carrying), plus new files
    assert files_v0 < set(snap.files)
    dv_adds = [a for a in snap.files.values() if a.get("deletionVector")]
    assert sum(a["deletionVector"]["cardinality"] for a in dv_adds) == 3
    # relation: the three rows restated, everything else untouched
    got = {r["order_id"]: r["priority"] for r in tmp_table.read().collect()}
    assert len(got) == 60
    assert all(got[i] == "BUMPED" for i in ids[:3])
    expect = {
        r["order_id"]: r["priority"]
        for r in orders.filter(~F.col("order_id").isin(ids[:3])).collect()
    }
    assert all(got[i] == p for i, p in expect.items())
    assert tmp_table.read(version=0).count() == 60  # time travel intact

    # CDF: exactly 3 deletes (old rows) + 3 inserts (new rows) at v1;
    # neighbors sharing the touched files emit NOTHING
    ch = tmp_table.changes(v1, v1)
    by_type = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type").agg(F.count("*").alias("n"))
        .collect()
    }
    assert by_type == {"delete": 3, "insert": 3}
    assert {
        r["priority"]
        for r in ch.filter(F.col("_change_type") == "insert").collect()
    } == {"BUMPED"}
    # fold(changes(0)) == snapshot
    cols = [c for c in ch.columns if not c.startswith("_")]
    fold = (
        tmp_table.changes(0)
        .groupBy(*cols)
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("net")
        )
        .filter(F.col("net") > 0)
        .drop("net")
    )
    assert _canon(fold) == _canon(tmp_table.read())

    # no-match UPDATE is a no-op
    assert (
        tmp_table.update(
            F.col("order_id") == "no-such-id",
            {"priority": F.lit("X")},
            use_dv=True,
        )
        is None
    )

    # second DV update touching an already-DV'd file folds positions:
    # previously-updated rows stay dead in the old files, and the
    # NEW-file copy of ids[0] (priority BUMPED) gets updated this time
    v2 = tmp_table.update(
        F.col("order_id").isin([ids[0], ids[4]]),
        {"priority": F.lit("BUMPED2")},
        use_dv=True,
    )
    assert v2 == 2
    got2 = {r["order_id"]: r["priority"] for r in tmp_table.read().collect()}
    assert len(got2) == 60
    assert got2[ids[0]] == "BUMPED2" and got2[ids[4]] == "BUMPED2"
    assert got2[ids[1]] == "BUMPED"

    # constraints gate the rewritten rows: a violating UPDATE refuses
    # and commits nothing
    tmp_table.set_constraint("prio_short", "length(priority) < 30")
    before = tmp_table.snapshot().version
    with pytest.raises(Exception, match="prio_short|constraint"):
        tmp_table.update(
            F.col("order_id") == ids[5],
            {"priority": F.lit("X" * 40)},
            use_dv=True,
        )
    assert tmp_table.snapshot().version == before


def test_dv_merge_upsert_without_rewrite(spark, tmp_table):
    """merge(use_dv=True): matched target rows die under a DV, the
    whole source lands as new files, zero rewrites; single-key sources
    prune the discovery scan by file stats; result == the
    copy-on-write merge relation; CDF fold == snapshot; empty source
    is a no-op."""
    orders = _orders(spark).limit(60).localCheckpoint(eager=True)
    ids = sorted(r["order_id"] for r in orders.collect())
    tmp_table.write(orders.repartitionByRange(4, "order_id"))
    files_v0 = set(tmp_table.snapshot().files)

    # source: restate 3 existing keys + insert 2 new ones
    source = (
        orders.filter(F.col("order_id").isin(ids[:3]))
        .withColumn("priority", F.lit("MERGED"))
        .unionByName(
            orders.limit(2)
            .withColumn("order_id", F.concat(F.lit("new-"), "order_id"))
        )
        .localCheckpoint(eager=True)
    )
    v1 = tmp_table.merge(source, keys=["order_id"], use_dv=True)
    assert v1 == 1
    info = next(h for h in tmp_table.history() if h["version"] == v1)
    assert info["operationParameters"]["mode"] == "deletion-vectors"
    assert int(info["operationParameters"]["rewrittenFiles"]) == 0
    # stats pruning: ids[:3] sort lowest, so the range (min..max of
    # source keys incl. "new-..." lexicographic) needn't cover every
    # file — at minimum the parameter is recorded
    assert "prunedFiles" in info["operationParameters"]
    snap = tmp_table.snapshot()
    assert files_v0 < set(snap.files), "originals stay; new files added"
    dv_adds = [a for a in snap.files.values() if a.get("deletionVector")]
    assert sum(a["deletionVector"]["cardinality"] for a in dv_adds) == 3

    # relation == the copy-on-write merge of the same inputs
    from ecommerce_lakehouse_platform_spark.operators.scd import merge_upsert

    expect = merge_upsert(orders, source, ["order_id"])
    assert _canon(tmp_table.read()) == _canon(expect)

    # CDF at v1: 3 deletes (matched originals) + 5 inserts (source);
    # the 57 neighbors emit nothing. Fold == snapshot.
    ch = tmp_table.changes(v1, v1)
    by_type = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type").agg(F.count("*").alias("n"))
        .collect()
    }
    assert by_type == {"delete": 3, "insert": 5}
    cols = [c for c in ch.columns if not c.startswith("_")]
    fold = (
        tmp_table.changes(0)
        .groupBy(*cols)
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("net")
        )
        .filter(F.col("net") > 0)
        .drop("net")
    )
    assert _canon(fold) == _canon(tmp_table.read())

    # empty source: no-op, no commit
    empty = source.filter(F.lit(False))
    assert tmp_table.merge(empty, keys=["order_id"], use_dv=True) is None
    assert tmp_table.snapshot().version == v1

    # the streamed feed agrees with the batch feed across DV DML
    from ecommerce_lakehouse_platform_spark.streaming.cdf_source import (
        read_cdf_stream,
    )

    base = os.path.dirname(tmp_table.path)
    q = (
        read_cdf_stream(spark, tmp_table.path)
        .writeStream.format("parquet")
        .option("path", os.path.join(base, "events"))
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(os.path.join(base, "events"))
    assert _canon(got) == _canon(tmp_table.changes(0))


def test_reorg_purge_materializes_dvs(spark, tmp_table):
    """reorg_purge() — REORG TABLE ... APPLY (PURGE): only the
    DV-carrying files are rewritten (clean neighbors keep their exact
    add entries), the rewritten files carry no descriptor and the
    dead rows are physically gone from disk, the commit is
    dataChange=false (invisible to the change feed), time travel
    still sees the pre-delete rows, a second purge is a no-op, and
    vacuum reclaims both the superseded files and the _dv sidecars."""
    orders = _orders(spark).limit(60).localCheckpoint(eager=True)
    ids = sorted(r["order_id"] for r in orders.collect())
    tmp_table.write(orders.repartitionByRange(4, "order_id"))
    files_v0 = set(tmp_table.snapshot().files)

    # ids[:5] sort lowest -> they land in ONE range file; the other
    # three files stay DV-free
    v1 = tmp_table.delete(F.col("order_id").isin(ids[:5]), use_dv=True)
    snap1 = tmp_table.snapshot()
    dv_files = {
        rel for rel, a in snap1.files.items() if a.get("deletionVector")
    }
    clean_files = files_v0 - dv_files
    assert dv_files and clean_files, "fixture must mix DV and clean files"
    before = _canon(tmp_table.read())

    v2 = tmp_table.reorg_purge()
    assert v2 == v1 + 1
    info = next(h for h in tmp_table.history() if h["version"] == v2)
    assert info["operation"] == "REORG"
    assert info["operationParameters"] == {"applyPurge": "true"}

    snap2 = tmp_table.snapshot()
    assert not any(
        a.get("deletionVector") for a in snap2.files.values()
    ), "purge must leave no deletion vectors"
    assert clean_files <= set(snap2.files), "clean files must not be touched"
    assert not dv_files & set(snap2.files), "tainted files must be replaced"
    assert _canon(tmp_table.read()) == before

    # physically gone: the RAW parquet of the new layout (no DV
    # anti-join) already excludes the deleted rows
    raw = spark.read.parquet(
        *(os.path.join(tmp_table.path, r) for r in snap2.files)
    )
    assert raw.count() == 55

    # dataChange=false: the feed sees nothing at v2; fold == snapshot
    assert tmp_table.changes(v2, v2).count() == 0
    cols = [c for c in tmp_table.read().columns]
    fold = (
        tmp_table.changes(0)
        .groupBy(*cols)
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("net")
        )
        .filter(F.col("net") > 0)
        .drop("net")
    )
    assert _canon(fold) == _canon(tmp_table.read())

    # time travel: v0 still has all 60 rows, v1 the DV-masked 55
    assert tmp_table.read(version=0).count() == 60
    assert tmp_table.read(version=v1).count() == 55

    # idempotent: nothing left to purge
    assert tmp_table.reorg_purge() is None
    assert tmp_table.snapshot().version == v2

    # vacuum reclaims the replaced data files AND the orphaned sidecar
    removed = set(tmp_table.vacuum())
    assert dv_files <= removed
    assert any(r.startswith("_dv/") for r in removed)
    assert _canon(tmp_table.read()) == before


def test_reorg_purge_partitioned_and_whole_file_dead(spark, tmp_table):
    """Partitioned table: purge rewrites only the partitions whose
    files carry DVs; a file whose EVERY row is dead disappears from
    the layout (remove committed, nothing re-added for it)."""
    orders = _orders(spark).limit(40).localCheckpoint(eager=True)
    rows = orders.collect()
    sts = sorted({r["status"] for r in rows})
    assert len(sts) >= 2
    kill_st = sts[0]
    kill_n = sum(1 for r in rows if r["status"] == kill_st)
    tmp_table.write(orders, partition_by=["status"])
    files_v0 = set(tmp_table.snapshot().files)

    # kill EVERY row of one partition's file(s) + nothing else
    v1 = tmp_table.delete(F.col("status") == kill_st, use_dv=True)
    assert v1 == 1
    before = _canon(tmp_table.read())
    assert tmp_table.read().count() == 40 - kill_n

    v2 = tmp_table.reorg_purge()
    snap2 = tmp_table.snapshot()
    assert not any(a.get("deletionVector") for a in snap2.files.values())
    # the fully-dead partition leaves the layout entirely
    assert not any(
        a.get("partitionValues", {}).get("status") == kill_st
        for a in snap2.files.values()
    )
    # untouched partitions keep their original files verbatim
    untouched_v0 = {
        rel
        for rel in files_v0
        if f"status={kill_st}" not in rel
    }
    assert untouched_v0 <= set(snap2.files)
    assert _canon(tmp_table.read()) == before
    assert tmp_table.changes(v2, v2).count() == 0
    assert tmp_table.read(version=0).count() == 40


def test_in_commit_timestamps_monotonic_and_authoritative(spark, tmp_table, monkeypatch):
    """enable_in_commit_timestamps(): every later commitInfo carries a
    monotonic inCommitTimestamp = max(clock, prev effective + 1) even
    when the writer clock runs BACKWARD; TIMESTAMP AS OF resolves by
    the ICT, not the skewed wall clock; the change feed stamps events
    with it; disabled tables never get one."""
    import time as _time

    from ecommerce_lakehouse_platform_spark.sources import deltalog as dl

    orders = _orders(spark).limit(30).localCheckpoint(eager=True)
    tmp_table.write(orders.limit(10))  # v0: plain, no ICT
    v1 = tmp_table.enable_in_commit_timestamps()
    assert v1 == 1
    assert tmp_table.enable_in_commit_timestamps() == v1  # idempotent

    def info_of(v):
        import json as _json

        with open(tmp_table._version_file(v), encoding="utf-8") as fh:
            for line in fh:
                a = _json.loads(line)
                if "commitInfo" in a:
                    return a["commitInfo"]
        return {}

    assert "inCommitTimestamp" not in info_of(0)
    ict1 = info_of(v1).get("inCommitTimestamp")
    assert ict1 is not None

    # clock runs BACKWARD 1 hour: the next commits' ICTs must still
    # strictly increase (prev effective + 1)
    real_time = _time.time
    monkeypatch.setattr(
        dl.time, "time", lambda: real_time() - 3600.0
    )
    v2 = tmp_table.write(orders.limit(20), mode="append")
    v3 = tmp_table.write(orders.limit(25), mode="append")
    ict2, ict3 = (
        info_of(v2)["inCommitTimestamp"],
        info_of(v3)["inCommitTimestamp"],
    )
    assert ict1 < ict2 < ict3
    # the skewed wall clock would have ordered them BEFORE v1
    assert info_of(v2)["timestamp"] < ict1

    # TIMESTAMP AS OF by ICT: the instant just before v3's ICT
    # resolves to v2 — the raw writer clocks would disagree
    assert tmp_table.version_at_timestamp(ict3 - 1) == v2
    assert tmp_table.version_at_timestamp(ict2 - 1) == v1

    # the change feed stamps v2's events with the ICT instant
    from datetime import datetime, timezone

    ts = (
        tmp_table.changes(v2, v2)
        .select("_commit_timestamp")
        .distinct()
        .collect()
    )
    assert len(ts) == 1
    got_ms = int(
        ts[0]["_commit_timestamp"]
        .replace(tzinfo=timezone.utc)
        .timestamp()
        * 1000
    )
    assert got_ms == ict2

    monkeypatch.undo()
    # history surfaces both fields for consumers that want either
    h2 = next(h for h in tmp_table.history() if h["version"] == v2)
    assert h2["inCommitTimestamp"] == ict2


def test_column_defaults_fill_omitted_writes(spark, tmp_table):
    """set_column_default: a write that OMITS the column fills it with
    the default (cast to the logged type); provided values pass
    as-is; non-constant expressions refuse; DROP DEFAULT stops the
    fill (omission then fails schema enforcement); partition columns
    refuse."""
    from ecommerce_lakehouse_platform_spark.sources.deltalog import (
        ConstraintViolationError,  # noqa: F401  (symmetry w/ siblings)
    )

    orders = _orders(spark).limit(20).localCheckpoint(eager=True)
    tmp_table.write(orders)
    v1 = tmp_table.set_column_default("priority", "'STANDARD'")
    assert v1 == 1

    batch = orders.limit(5).drop("priority").withColumn(
        "order_id", F.concat(F.lit("new-"), "order_id")
    )
    tmp_table.write(batch, mode="append")
    got = tmp_table.read().filter(F.col("order_id").startswith("new-"))
    assert [r["priority"] for r in got.collect()] == ["STANDARD"] * 5

    # provided values are NOT overridden (default, not invariant)
    batch2 = orders.limit(2).withColumn(
        "order_id", F.concat(F.lit("kept-"), "order_id")
    ).withColumn("priority", F.lit("VIP"))
    tmp_table.write(batch2, mode="append")
    kept = tmp_table.read().filter(F.col("order_id").startswith("kept-"))
    assert {r["priority"] for r in kept.collect()} == {"VIP"}

    # non-constant expression refuses at declaration
    with pytest.raises(ValueError, match="constant-foldable"):
        tmp_table.set_column_default("priority", "upper(status)")

    # DROP DEFAULT: omitting the column is a schema mismatch again
    assert tmp_table.drop_column_default("priority") is not None
    assert tmp_table.drop_column_default("priority") is None
    with pytest.raises(SchemaMismatchError):
        tmp_table.write(
            orders.limit(1).drop("priority"), mode="append"
        )

    # partition columns refuse
    base2 = tmp_table.path + "_p"
    from ecommerce_lakehouse_platform_spark.sources.deltalog import (
        MiniDeltaTable,
    )

    t2 = MiniDeltaTable(spark, base2)
    t2.write(orders, partition_by=["status"])
    with pytest.raises(SchemaMismatchError, match="partition column"):
        t2.set_column_default("status", "'X'")


def test_merge_schema_append_evolves_and_reads_null(spark, tmp_table):
    """write(merge_schema=True, mode='append'): added columns evolve
    the schema (appended, nullable), older files read as NULL for
    them (per-table footer merging via the evolved marker), time
    travel to the pre-evolution version keeps the old schema, DML and
    OPTIMIZE work over the mixed layout, the change feed crosses the
    evolution (old events carry null), and the guards refuse drops,
    type changes, and overwrite mode."""
    orders = _orders(spark).limit(20).localCheckpoint(eager=True)
    tmp_table.write(orders)  # v0
    ids = sorted(r["order_id"] for r in orders.collect())

    batch = (
        orders.limit(5)
        .withColumn("order_id", F.concat(F.lit("new-"), "order_id"))
        .withColumn("channel", F.lit("web"))
    )
    v1 = tmp_table.write(batch, mode="append", merge_schema=True)
    assert v1 == 1
    snap = tmp_table.snapshot()
    assert [f.name for f in snap.schema][-1] == "channel"
    assert snap.configuration.get("minidelta.appendSchemaEvolved") == "true"

    got = tmp_table.read()
    assert "channel" in got.columns and got.count() == 25
    old_rows = got.filter(~F.col("order_id").startswith("new-"))
    assert old_rows.filter(F.col("channel").isNotNull()).count() == 0
    new_rows = got.filter(F.col("order_id").startswith("new-"))
    assert {r["channel"] for r in new_rows.collect()} == {"web"}

    # time travel: the pre-evolution version keeps the OLD schema
    assert "channel" not in tmp_table.read(version=0).columns

    # guards
    with pytest.raises(SchemaMismatchError, match="never drop"):
        tmp_table.write(
            orders.limit(1).drop("priority"), mode="append",
            merge_schema=True,
        )
    with pytest.raises(SchemaMismatchError, match="column types"):
        tmp_table.write(
            orders.limit(1).withColumn(
                "channel", F.lit(1).cast("int")
            ),
            mode="append",
            merge_schema=True,
        )
    with pytest.raises(ValueError, match="append"):
        tmp_table.write(orders.limit(1), mode="overwrite",
                        merge_schema=True)

    # copy-on-write DML across the mixed layout: delete rows living
    # in a PRE-evolution file (its rewrite must read channel as null)
    v2 = tmp_table.delete(F.col("order_id") == ids[0])
    assert v2 == 2
    left = tmp_table.read()
    assert left.count() == 24
    assert left.filter(F.col("order_id") == ids[0]).count() == 0

    # the change feed crosses the evolution; pre-evolution events
    # carry null for the appended column
    ch = tmp_table.changes(0)
    assert "channel" in ch.columns
    v0_events = ch.filter(F.col("_commit_version") == 0)
    assert v0_events.count() == 20
    assert v0_events.filter(F.col("channel").isNotNull()).count() == 0

    # OPTIMIZE homogenizes the layout; reads unchanged (None-safe
    # canon: the evolved column is null on pre-evolution rows)
    def canon_n(df):
        return sorted(
            map(repr, (tuple(r) for r in df.select(*sorted(df.columns)).collect()))
        )

    before = canon_n(tmp_table.read())
    assert tmp_table.optimize(max_file_bytes=1 << 30)
    assert canon_n(tmp_table.read()) == before


def test_merge_schema_streaming_cdf_null_fills_old_files(spark, tmp_table):
    """The streaming CDF source null-fills appended columns when an
    event touches a file written BEFORE the evolution (a post-
    evolution delete's remove of a v0 file)."""
    import os as _os

    from ecommerce_lakehouse_platform_spark.streaming.cdf_source import (
        read_cdf_stream,
    )

    orders = _orders(spark).limit(12).localCheckpoint(eager=True)
    ids = sorted(r["order_id"] for r in orders.collect())
    tmp_table.write(orders)  # v0 (old schema)
    tmp_table.write(
        orders.limit(3)
        .withColumn("order_id", F.concat(F.lit("new-"), "order_id"))
        .withColumn("channel", F.lit("web")),
        mode="append",
        merge_schema=True,
    )  # v1 evolves
    tmp_table.delete(F.col("order_id") == ids[0])  # v2 rewrites a v0 file

    base = _os.path.dirname(tmp_table.path)
    out = _os.path.join(base, "events")
    q = (
        read_cdf_stream(spark, tmp_table.path, starting_version=1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", _os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)

    def canon_n(df):
        return sorted(
            map(
                repr,
                (tuple(r) for r in df.select(*sorted(df.columns)).collect()),
            )
        )

    assert canon_n(got) == canon_n(tmp_table.changes(1))
    # the delete's pre-evolution rows stream with channel = null
    dels = got.filter(F.col("_change_type") == "delete")
    assert dels.count() >= 1
    assert dels.filter(F.col("channel").isNotNull()).count() == 0


def test_merge_schema_reordered_append_is_plain(spark, tmp_table):
    """merge_schema=True with merely REORDERED columns (no new
    fields) must behave as a plain append: align to the table order,
    commit NO metaData action, and leave the appendSchemaEvolved
    marker unset — the old order-sensitive compare committed a no-op
    evolution that taxed every later read with footer merging."""
    orders = _orders(spark).limit(10).localCheckpoint(eager=True)
    tmp_table.write(orders)  # v0
    cols = list(orders.columns)
    reordered = orders.select(*reversed(cols)).limit(3)
    v1 = tmp_table.write(reordered, mode="append", merge_schema=True)
    assert v1 == 1
    snap = tmp_table.snapshot()
    assert [f.name for f in snap.schema] == cols, "table order kept"
    assert snap.configuration.get("minidelta.appendSchemaEvolved") is None
    acts = list(tmp_table._read_actions(1))
    assert not any("metaData" in a for a in acts), "no no-op evolution"
    assert tmp_table.read().count() == 13

    # a reordered batch that ALSO adds a column still evolves
    widened = reordered.withColumn("channel", F.lit("web"))
    v2 = tmp_table.write(widened, mode="append", merge_schema=True)
    assert v2 == 2
    snap2 = tmp_table.snapshot()
    assert [f.name for f in snap2.schema] == cols + ["channel"]
    assert snap2.configuration.get("minidelta.appendSchemaEvolved") == "true"


def test_type_widening_matrix_unit(spark):
    """The widening lattice gate, protocol's allowed set exactly.
    (``_parse_datatype_string`` resolves through the active JVM, so
    the session fixture is required even though the gate is pure.)"""
    from pyspark.sql import types as T

    W = MiniDeltaTable._is_type_widening
    t = T._parse_datatype_string
    yes = [
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("smallint", "int"), ("smallint", "bigint"), ("int", "bigint"),
        ("float", "double"),
        ("tinyint", "double"), ("smallint", "double"), ("int", "double"),
        ("decimal(5,2)", "decimal(10,2)"), ("decimal(5,2)", "decimal(10,4)"),
        ("int", "decimal(10,0)"), ("int", "decimal(14,2)"),
        ("bigint", "decimal(20,0)"), ("date", "timestamp_ntz"),
    ]
    no = [
        ("bigint", "int"), ("double", "float"), ("int", "int"),
        ("bigint", "double"),  # not exact: protocol excludes it
        ("string", "int"), ("int", "string"),
        ("decimal(10,2)", "decimal(5,2)"),
        # integer digits would shrink: 8 -> 6
        ("decimal(10,2)", "decimal(10,4)"),
        ("int", "decimal(9,0)"),  # 9 digits can't hold every int
        ("bigint", "decimal(19,0)"), ("timestamp_ntz", "date"),
        ("float", "decimal(20,2)"),  # binary->decimal is not exact
    ]
    for frm, to in yes:
        assert W(t(frm), t(to)), f"{frm}->{to} must widen"
    for frm, to in no:
        assert not W(t(frm), t(to)), f"{frm}->{to} must NOT widen"


def test_type_widening_append_read_dml_cdf(spark, tmp_table):
    """The type-widening feature end to end: refusal + hint while
    off; once enabled, a wider batch evolves the column (typeChanges
    metadata, narrow files upcast in one explicit-schema scan, NO
    appendSchemaEvolved marker), a narrower batch upcasts into the
    table type with no evolution, time travel keeps the old type,
    DML rewrites across eras, the change feed crosses the widening,
    and checkpoint + expiry preserve the metadata."""
    df_narrow = spark.range(0, 10).select(
        F.col("id").cast("string").alias("k"),
        F.col("id").cast("int").alias("v"),
        (F.col("id") + F.lit(0.5)).cast("float").alias("score"),
    )
    tmp_table.write(df_narrow)  # v0

    wide_batch = spark.range(10, 15).select(
        F.col("id").cast("string").alias("k"),
        (F.col("id") + F.lit(5_000_000_000)).alias("v"),  # long
        (F.col("id") + F.lit(0.25)).cast("double").alias("score"),
    )
    # off: refused, and the error names the remedy
    with pytest.raises(SchemaMismatchError, match="enable_type_widening"):
        tmp_table.write(wide_batch, mode="append", merge_schema=True)

    assert tmp_table.enable_type_widening() == 1  # v1
    v2 = tmp_table.write(wide_batch, mode="append", merge_schema=True)
    assert v2 == 2
    snap = tmp_table.snapshot()
    types = {f.name: f.dataType.simpleString() for f in snap.schema}
    assert types == {"k": "string", "v": "bigint", "score": "double"}
    changes_v = {
        f.name: (f.metadata or {}).get("delta.typeChanges")
        for f in snap.schema
    }
    assert changes_v["v"] == [
        {"fromType": "int", "toType": "bigint", "tableVersion": 2}
    ]
    assert changes_v["score"] == [
        {"fromType": "float", "toType": "double", "tableVersion": 2}
    ]
    # widening alone must NOT turn on footer merging
    assert snap.configuration.get("minidelta.appendSchemaEvolved") is None

    got = tmp_table.read()
    assert dict(got.dtypes)["v"] == "bigint"
    assert got.count() == 15
    assert (
        got.filter(F.col("v") >= 5_000_000_000).count() == 5
        and got.filter(F.col("v") < 10).count() == 10
    )
    # old-era float values surface exactly (float->double is exact)
    assert got.filter(F.col("k") == "3").collect()[0]["score"] == 3.5

    # time travel: the pre-widening snapshot keeps the narrow types
    old = tmp_table.read(version=0)
    assert dict(old.dtypes)["v"] == "int"
    assert old.count() == 10

    # a NARROWER batch now upcasts into the wide table type silently:
    # no metaData action, no new typeChanges entries
    v3 = tmp_table.write(
        spark.range(15, 18).select(
            F.col("id").cast("string").alias("k"),
            F.col("id").cast("int").alias("v"),
            F.lit(1.5).cast("float").alias("score"),
        ),
        mode="append",
        merge_schema=True,
    )
    assert v3 == 3
    assert not any(
        "metaData" in a for a in tmp_table._read_actions(3)
    ), "narrow-batch upcast is enforcement, not evolution"
    assert tmp_table.read().count() == 18

    # DML across eras: delete a row living in a NARROW v0 file
    v4 = tmp_table.delete(F.col("k") == "4")
    assert v4 == 4
    left = tmp_table.read()
    assert left.count() == 17
    assert dict(left.dtypes)["v"] == "bigint"

    # the change feed crosses the widening: v0 inserts surface wide
    ch = tmp_table.changes(0)
    assert dict(ch.dtypes)["v"] == "bigint"
    v0_ins = ch.filter(
        (F.col("_commit_version") == 0)
        & (F.col("_change_type") == "insert")
    )
    assert v0_ins.count() == 10

    # second widening on the same column chains the metadata
    v5 = tmp_table.write(
        spark.range(18, 20).select(
            F.col("id").cast("string").alias("k"),
            F.col("id").cast("decimal(22,0)").alias("v"),
            F.lit(2.5).alias("score"),
        ),
        mode="append",
        merge_schema=True,
    )
    assert v5 == 5
    snap5 = tmp_table.snapshot()
    vmeta = next(f for f in snap5.schema if f.name == "v").metadata
    assert [c["toType"] for c in vmeta["delta.typeChanges"]] == [
        "bigint",
        "decimal(22,0)",
    ]
    assert tmp_table.read().count() == 19
    assert (
        tmp_table.read()
        .agg(F.sum("v").cast("string"))
        .collect()[0][0]
        == "25000000186"
    )

    # checkpoint + expiry: the typeChanges metadata survives replay
    tmp_table.checkpoint()
    tmp_table.expire_log()
    snap6 = tmp_table.snapshot()
    vmeta2 = next(f for f in snap6.schema if f.name == "v").metadata
    assert vmeta2["delta.typeChanges"] == vmeta["delta.typeChanges"]
    assert tmp_table.read().count() == 19

    # OPTIMIZE homogenizes the eras; values unchanged
    before = sorted(
        map(repr, (tuple(r) for r in tmp_table.read().collect()))
    )
    assert tmp_table.optimize(max_file_bytes=1 << 30)
    assert (
        sorted(map(repr, (tuple(r) for r in tmp_table.read().collect())))
        == before
    )

    # non-widenable changes still refuse, feature on or not
    with pytest.raises(SchemaMismatchError, match="column types"):
        tmp_table.write(
            spark.range(1).select(
                F.col("id").cast("string").alias("k"),
                F.col("id").cast("decimal(22,0)").alias("v"),
                F.lit("oops").alias("score"),
            ),
            mode="append",
            merge_schema=True,
        )


def test_type_widening_composes_with_added_columns(spark, tmp_table):
    """One append that both WIDENS a type and ADDS a column: the
    typeChanges metadata and the appendSchemaEvolved marker each
    engage for their half, and reads upcast + null-fill in one scan."""
    tmp_table.write(
        spark.range(0, 6).select(
            F.col("id").cast("string").alias("k"),
            F.col("id").cast("int").alias("v"),
        )
    )
    tmp_table.enable_type_widening()
    v = tmp_table.write(
        spark.range(6, 9).select(
            F.col("id").cast("string").alias("k"),
            F.col("id").alias("v"),  # bigint: widens
            F.lit("web").alias("channel"),  # new column
        ),
        mode="append",
        merge_schema=True,
    )
    assert v == 2
    snap = tmp_table.snapshot()
    assert snap.configuration.get("minidelta.appendSchemaEvolved") == "true"
    assert (
        next(f for f in snap.schema if f.name == "v").metadata[
            "delta.typeChanges"
        ][0]["toType"]
        == "bigint"
    )
    got = tmp_table.read()
    assert dict(got.dtypes) == {
        "k": "string",
        "v": "bigint",
        "channel": "string",
    }
    assert got.count() == 9
    assert got.filter(F.col("channel").isNull()).count() == 6


def test_type_widening_stats_skipping_spans_eras(spark, tmp_table):
    """files_for_range over a widened column: narrow-era stats (JSON
    ints) and wide-era stats compare in the same numeric domain, so
    data skipping keeps working across the widening."""
    tmp_table.write(
        spark.range(0, 100).select(
            F.col("id").cast("string").alias("k"),
            F.col("id").cast("int").alias("v"),
        )
    )
    tmp_table.enable_type_widening()
    tmp_table.write(
        spark.range(0, 50).select(
            F.col("id").cast("string").alias("k"),
            (F.col("id") + F.lit(5_000_000_000)).alias("v"),
        ),
        mode="append",
        merge_schema=True,
    )
    wide_only = tmp_table.files_for_range("v", lo=5_000_000_000)
    narrow_only = tmp_table.files_for_range("v", hi=99)
    everything = tmp_table.files_for_range("v")
    assert set(wide_only) and set(narrow_only)
    assert not set(wide_only) & set(narrow_only)
    assert set(wide_only) | set(narrow_only) == set(everything)


def _sidecar_names(t, version):
    import pyarrow.parquet as pq

    tab = pq.read_table(t._checkpoint_path(version))
    if "sidecar" not in tab.column_names:
        return None
    return [
        sc["path"] for sc in tab.column("sidecar").to_pylist() if sc
    ]


def test_v2_checkpoint_roundtrip_and_sidecar_reuse(spark, tmp_table):
    """V2 checkpoints: the manifest holds no add rows (file actions
    live in content-hash-named sidecars), snapshot replay through a
    v2 checkpoint equals the JSON replay, expiry works, and a later
    checkpoint REUSES every sidecar whose bucket did not change —
    the write cost is the changed slice, not the table."""
    import pyarrow.parquet as pq

    orders = _orders(spark).limit(40).localCheckpoint(eager=True)
    tmp_table.checkpoint_interval = 0  # manual checkpoints only
    tmp_table.write(orders.repartition(16))  # v0: 16 files
    tmp_table.enable_v2_checkpoints()  # v1
    before = sorted(map(repr, (tuple(r) for r in tmp_table.read().collect())))

    # shrink the bucket target so 16 files spread over several
    # sidecars (the reuse assertion needs >1 bucket)
    tmp_table._SIDECAR_FILES = 4
    v = tmp_table.checkpoint()
    assert v == 1
    names1 = _sidecar_names(tmp_table, v)
    assert names1 and len(names1) == 4  # 16 files / 4 per bucket
    manifest = pq.read_table(tmp_table._checkpoint_path(v)).to_pylist()
    assert not any(r.get("add") for r in manifest), "adds live in sidecars"

    # replay through the v2 checkpoint: expire the JSON history first
    assert tmp_table.expire_log() == [0]
    after = sorted(map(repr, (tuple(r) for r in tmp_table.read().collect())))
    assert after == before
    snap = tmp_table.snapshot()
    assert len(snap.files) == 16

    # append ONE new file, checkpoint again: the new manifest reuses
    # every unchanged bucket's sidecar byte-for-byte
    tmp_table.write(orders.limit(3).coalesce(1), mode="append")  # v2
    tmp_table._SIDECAR_FILES = 4
    v2 = tmp_table.checkpoint()
    names2 = _sidecar_names(tmp_table, v2)
    assert len(names2) == 4  # pow2 hysteresis: still 4 buckets
    reused = set(names1) & set(names2)
    assert len(reused) == 3, "only the bucket that changed rewrote"
    assert tmp_table.read().count() == 43

    # chained expiry keeps working; the superseded sidecar is still
    # referenced by the OLDER manifest, so GC keeps it
    sidecar_dir = os.path.join(tmp_table.log_dir, "_sidecars")
    n_files_before = len(os.listdir(sidecar_dir))
    tmp_table.expire_log()
    assert len(os.listdir(sidecar_dir)) == n_files_before
    assert tmp_table.read().count() == 43

    # once the old manifest is gone (retention cleanup), expire_log
    # reclaims sidecars no remaining manifest references — but only
    # PAST the grace window: checkpoint() writes sidecars before
    # publishing its manifest, so a concurrent expire must not reap
    # files an in-flight checkpoint is about to reference. These
    # orphans are seconds old, so the default grace keeps them:
    os.unlink(tmp_table._checkpoint_path(1))
    tmp_table.expire_log()
    assert len(os.listdir(sidecar_dir)) == n_files_before, (
        "young unreferenced sidecars survive the grace window"
    )
    tmp_table._SIDECAR_GC_GRACE_MS = 0  # age past the window
    tmp_table.expire_log()
    left = set(os.listdir(sidecar_dir))
    assert left == set(names2)
    assert tmp_table.read().count() == 43


def test_v2_checkpoint_chains_from_v1_and_carries_state(spark, tmp_table):
    """A v2 checkpoint chains from an older v1 checkpoint, and the
    non-file state (txn ledger, row-tracking watermark, constraints in
    configuration) survives the v2 manifest + expiry round trip."""
    orders = _orders(spark).limit(20).localCheckpoint(eager=True)
    tmp_table.checkpoint_interval = 0
    tmp_table.write(orders)  # v0
    tmp_table.checkpoint()  # v1-era classic checkpoint at v0
    tmp_table.enable_row_tracking()  # v1
    tmp_table.write(
        orders.limit(4), mode="append", txn=("sink", 9)
    )  # v2
    tmp_table.enable_v2_checkpoints()  # v3
    v = tmp_table.checkpoint()
    assert v == 3
    assert _sidecar_names(tmp_table, v), "v2 layout"
    tmp_table.expire_log()
    snap = tmp_table.snapshot()
    assert snap.app_versions == {"sink": 9}
    assert "delta.rowTracking" in snap.domain_metadata
    ids = [
        r["_row_id"]
        for r in tmp_table.read(with_row_ids=True).collect()
    ]
    assert sorted(ids) == list(range(24))


def test_identity_column_assignment_and_guards(spark, tmp_table):
    """Identity columns: declared on an empty table, values unique and
    strictly past the watermark across appends and overwrites (the
    protocol allows GAPS — assignment is sparse per-partition blocks,
    like the real feature's task reservation), GENERATED ALWAYS
    rejects explicit values, the watermark survives checkpoint + log
    expiry, and time travel predates the column."""
    empty = spark.createDataFrame([], "k string, v bigint")
    tmp_table.write(empty)  # v0: zero rows
    with pytest.raises(ValueError, match="non-zero"):
        tmp_table.add_identity_column("id", step=0)
    v1 = tmp_table.add_identity_column("id", start=10, step=5)
    assert v1 == 1
    with pytest.raises(ValueError, match="already exists"):
        tmp_table.add_identity_column("id")
    # time travel: the pre-identity version lacks the column
    assert "id" not in tmp_table.read(version=0).columns

    def ids():
        return [r["id"] for r in tmp_table.read().collect()]

    def check(vals, n, floor):
        assert len(vals) == n and len(set(vals)) == n, "unique"
        assert all(v >= floor for v in vals), f"past watermark {floor}"
        assert all((v - 10) % 5 == 0 for v in vals), "on the step grid"

    df = spark.range(0, 8).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 2).alias("v")
    )
    tmp_table.write(df, mode="append")  # v2
    batch1 = ids()
    check(batch1, 8, 10)
    assert min(batch1) == 10, "first allocation starts at START"

    tmp_table.write(
        df.limit(3).withColumn("k", F.concat(F.lit("n"), "k")),
        mode="append",
    )  # v3: strictly past the recorded watermark
    batch2 = [v for v in ids() if v not in set(batch1)]
    check(ids(), 11, 10)
    assert min(batch2) > max(batch1)

    # GENERATED ALWAYS refuses writer-provided values
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        tmp_table.write(
            df.limit(1).withColumn("id", F.lit(999)), mode="append"
        )

    # the watermark survives checkpoint + log expiry
    hwm = max(ids())
    tmp_table.checkpoint()
    tmp_table.expire_log()
    tmp_table.write(df.limit(2), mode="append")
    after = ids()
    check(after, 13, 10)
    assert min(v for v in after if v not in set(batch1) | set(batch2)) > hwm

    # a full overwrite keeps assigning past the watermark (real
    # semantics: identity never resets)
    hwm2 = max(after)
    tmp_table.write(df.limit(4), mode="overwrite")
    final = ids()
    assert len(final) == 4 and len(set(final)) == 4
    assert min(final) > hwm2

    # refused once the table holds rows
    with pytest.raises(ValueError, match="holds no rows"):
        tmp_table.add_identity_column("id2")


def test_identity_by_default_and_negative_step(spark, tmp_table):
    """BY DEFAULT identity accepts explicit values and bumps the
    watermark past them; a negative step descends."""
    tmp_table.write(spark.createDataFrame([], "k string"))
    tmp_table.add_identity_column(
        "id", start=100, step=-10, allow_explicit=True
    )
    # single-partition batches make the sparse blocks dense, so the
    # values are exact: 100, 90, 80
    df = spark.range(0, 3).select(
        F.col("id").cast("string").alias("k")
    ).coalesce(1)
    tmp_table.write(df, mode="append")
    first = [r["id"] for r in tmp_table.read().collect()]
    assert sorted(first) == [80, 90, 100]
    # explicit values BELOW the watermark (descending) bump it
    tmp_table.write(
        spark.createDataFrame([("x", 40), ("y", 55)], "k string, id long"),
        mode="append",
    )
    tmp_table.write(
        df.limit(1).select(F.concat(F.lit("z"), "k").alias("k")).coalesce(1),
        mode="append",
    )
    allv = [r["id"] for r in tmp_table.read().collect()]
    assert 30 in allv, (
        f"assignment continues below the bumped watermark: {allv}"
    )
    assert len(set(allv)) == len(allv)


def test_identity_write_race_surfaces_instead_of_rebasing(spark, tmp_table):
    """Two identity-assigning appends racing: the loser must surface
    the conflict (a silent rebase would replay its stale watermark and
    mint duplicate ids); the caller's retry re-assigns cleanly."""
    tmp_table.write(spark.createDataFrame([], "k string"))
    tmp_table.add_identity_column("id")
    df = spark.range(0, 5).select(F.col("id").cast("string").alias("k"))
    rival = MiniDeltaTable(spark, tmp_table.path)
    orig = tmp_table._commit
    state = {"fired": False}

    def racing(version, actions):
        if not state["fired"]:
            state["fired"] = True
            rival.write(df, mode="append")  # rival assigns 1..5
        orig(version, actions)

    tmp_table._commit = racing
    with pytest.raises(ConcurrentWriteError):
        tmp_table.write(
            df.select(F.concat(F.lit("b"), "k").alias("k")), mode="append"
        )
    tmp_table._commit = orig
    tmp_table.write(
        df.select(F.concat(F.lit("b"), "k").alias("k")), mode="append"
    )  # retry re-assigns from the winner's watermark
    ids = [r["id"] for r in tmp_table.read().collect()]
    assert len(ids) == 10 and len(set(ids)) == 10, "no duplicates"


def test_type_widening_lattice_is_transitive_and_antisymmetric(spark):
    """Property: the widening gate is a strict partial order over a
    generated type universe — transitive (two protocol-legal widenings
    compose into one legal widening, so a chained-widened table's
    oldest files are still one in-scan upcast from the latest type)
    and antisymmetric (no two distinct types widen both ways, so the
    provenance chain can never cycle)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import types as T

    scalars = [
        "tinyint", "smallint", "int", "bigint", "float", "double",
        "date", "timestamp_ntz", "string",
    ]
    decimals = [
        f"decimal({p},{s})"
        for p in (5, 10, 12, 20, 22)
        for s in (0, 2, 4)
        if s < p
    ]
    universe = [T._parse_datatype_string(x) for x in scalars + decimals]
    W = MiniDeltaTable._is_type_widening

    @settings(max_examples=300, deadline=None)
    @given(
        st.sampled_from(universe),
        st.sampled_from(universe),
        st.sampled_from(universe),
    )
    def check(a, b, c):
        if W(a, b):
            assert not W(b, a), f"cycle {a}<->{b}"
        if W(a, b) and W(b, c):
            assert W(a, c), f"not transitive: {a}->{b}->{c}"

    check()


def test_identity_dml_guards(spark, tmp_table):
    """MERGE into an identity table and UPDATE of the identity column
    are refused: both would land identity values without advancing the
    watermark, letting a later assignment re-mint them."""
    tmp_table.write(spark.createDataFrame([], "k string"))
    tmp_table.add_identity_column("id")
    df = spark.range(0, 4).select(F.col("id").cast("string").alias("k"))
    tmp_table.write(df, mode="append")
    with pytest.raises(NotImplementedError, match="identity"):
        tmp_table.merge(tmp_table.read().limit(1), ["k"])
    with pytest.raises(ValueError, match="identity"):
        tmp_table.update(F.col("k") == "1", {"id": F.lit(999)})
    # non-identity DML still works and preserves ids
    before = {r["k"]: r["id"] for r in tmp_table.read().collect()}
    tmp_table.delete(F.col("k") == "0")
    tmp_table.update(F.col("k") == "1", {"k": F.lit("one")})
    after = {r["k"]: r["id"] for r in tmp_table.read().collect()}
    assert after == {
        "one": before["1"], "2": before["2"], "3": before["3"]
    }


@pytest.mark.parametrize("seed", [7, 23])
def test_cdf_fold_equals_snapshot_random_sequences(spark, tmp_table, seed):
    """Randomized model check for the (r12-batched) change-feed
    replay: after an ARBITRARY seeded interleaving of write / append
    / overwrite / copy-on-write DELETE / DV DELETE / OPTIMIZE /
    MERGE, folding ``changes(0)`` — Σ(insert=+1, delete=−1) per row,
    keep net>0, counted with multiplicity — must equal the live
    snapshot as a multiset. The scripted model test walks one
    sequence; this walks two seeded ones, so the batched one-scan
    membership join is exercised across event multiplicities,
    DV-carrying removes, and dataChange=false noise in arbitrary
    order."""
    import random
    from collections import Counter

    rng = random.Random(seed)
    orders = _orders(spark)
    pool = orders.orderBy("order_id").limit(40).localCheckpoint(eager=True)
    key = F.col("order_id").cast("long")

    def chunk():
        lo = rng.randrange(0, 30)
        return pool.filter((key % 40 >= lo) & (key % 40 < lo + 10))

    tmp_table.checkpoint_interval = 3  # checkpoints land mid-sequence
    tmp_table.write(chunk())  # v0
    ops = ["append", "overwrite", "delete", "dv_delete", "optimize", "merge"]
    for _ in range(6):
        op = rng.choice(ops)
        if op == "append":
            tmp_table.write(chunk(), mode="append")
        elif op == "overwrite":
            tmp_table.write(chunk())
        elif op == "delete":
            tmp_table.delete(key % 7 == rng.randrange(7))
        elif op == "dv_delete":
            tmp_table.delete(key % 5 == rng.randrange(5), use_dv=True)
        elif op == "optimize":
            tmp_table.optimize()
        elif op == "merge":
            src = chunk().withColumn("status", F.lit(f"m{rng.randrange(9)}"))
            tmp_table.merge(src, keys=["order_id"])

    cdf = tmp_table.changes(0)
    cols = sorted(c for c in cdf.columns if not c.startswith("_"))
    net: Counter = Counter()
    for row in cdf.collect():
        delta = 1 if row["_change_type"] == "insert" else -1
        net[tuple(row[c] for c in cols)] += delta
    assert not any(v < 0 for v in net.values()), "over-deleted rows"
    live = Counter(
        tuple(r[c] for c in cols) for r in tmp_table.read().collect()
    )
    assert +net == live


def test_identity_by_default_null_values_and_staged_watermark(spark, tmp_table):
    """r12: the BY DEFAULT explicit-value watermark derives from the
    STAGED files' footer stats, not a pre-write aggregate. Explicit
    NULL ids are legal (BY DEFAULT stores what the writer provided):
    an all-NULL batch advances nothing — its files carry no stat for
    the column — and a mixed batch advances past its non-null
    extreme only; later identity-omitting appends keep assigning
    unique on-grid values past whatever was actually committed."""
    tmp_table.write(spark.createDataFrame([], "k string"))
    tmp_table.add_identity_column("id", start=10, step=5, allow_explicit=True)
    # all-NULL explicit batch: no stat, no watermark motion, no crash
    tmp_table.write(
        spark.createDataFrame([("a", None), ("b", None)], "k string, id long")
        .coalesce(1),
        mode="append",
    )
    # omitting append: assignment starts at START (nothing advanced)
    tmp_table.write(
        spark.createDataFrame([("c",)], "k string").coalesce(1), mode="append"
    )
    vals = {r["k"]: r["id"] for r in tmp_table.read().collect()}
    assert vals["a"] is None and vals["b"] is None
    assert vals["c"] == 10
    # mixed batch: NULLs pass, watermark jumps past the provided 90
    tmp_table.write(
        spark.createDataFrame(
            [("d", 90), ("e", None)], "k string, id long"
        ).coalesce(1),
        mode="append",
    )
    tmp_table.write(
        spark.createDataFrame([("f",)], "k string").coalesce(1), mode="append"
    )
    vals = {r["k"]: r["id"] for r in tmp_table.read().collect()}
    assert vals["d"] == 90 and vals["e"] is None
    assert vals["f"] > 90 and (vals["f"] - 10) % 5 == 0
    non_null = [v for v in vals.values() if v is not None]
    assert len(set(non_null)) == len(non_null)


def test_identity_watermark_distinguishes_no_stat_from_all_null(
    spark, tmp_table, monkeypatch
):
    """r13 (ADVICE): a staged file whose footer stat for the identity
    column is UNAVAILABLE (one stat-less row group poisons the column
    in _file_stats_json; a footer-read error drops the whole stats
    string) must NOT be silently treated as all-NULL — the watermark
    would stay behind the committed values and a later
    identity-omitting append would mint duplicate ids. The writer
    falls back to the footer's null_count and, when values exist, one
    bounded single-file aggregate."""
    # patch the HELPER module (call sites late-bind via _base.<name>,
    # so the patch reaches the staging path after the r13 package split)
    from ecommerce_lakehouse_platform_spark.sources.deltalog import (
        _base as dl,
    )

    tmp_table.write(spark.createDataFrame([], "k string"))
    tmp_table.add_identity_column("id", start=10, step=5, allow_explicit=True)

    real = dl._file_stats_json

    def strip_id_stats(path):
        raw = real(path)
        if raw is None:
            return None
        st = json.loads(raw)
        st.get("minValues", {}).pop("id", None)
        st.get("maxValues", {}).pop("id", None)
        return json.dumps(st, separators=(",", ":"))

    # explicit batch carrying 200, staged WITHOUT a min/max for `id`
    monkeypatch.setattr(dl, "_file_stats_json", strip_id_stats)
    tmp_table.write(
        spark.createDataFrame([("a", 200)], "k string, id long").coalesce(1),
        mode="append",
    )
    # footer-read-error simulation: NO stats string at all — the
    # numRecords guard must not skip a file that really has rows
    monkeypatch.setattr(dl, "_file_stats_json", lambda path: None)
    tmp_table.write(
        spark.createDataFrame([("b", 300)], "k string, id long").coalesce(1),
        mode="append",
    )
    monkeypatch.setattr(dl, "_file_stats_json", real)

    # omitting append: values must land PAST 300, not restart at 10
    tmp_table.write(
        spark.createDataFrame([("c",), ("d",)], "k string").coalesce(1),
        mode="append",
    )
    vals = {r["k"]: r["id"] for r in tmp_table.read().collect()}
    assert vals["a"] == 200 and vals["b"] == 300
    assert vals["c"] > 300 and vals["d"] > 300
    non_null = list(vals.values())
    assert len(set(non_null)) == len(non_null), vals
    assert all((v - 10) % 5 == 0 for v in non_null)

    # all-NULL explicit batch under the stat-stripper: STILL advances
    # nothing and does not crash (null_count proves it's empty of
    # values — the legal BY DEFAULT case keeps working)
    monkeypatch.setattr(dl, "_file_stats_json", strip_id_stats)
    tmp_table.write(
        spark.createDataFrame([("e", None)], "k string, id long").coalesce(1),
        mode="append",
    )
    monkeypatch.setattr(dl, "_file_stats_json", real)
    before = max(non_null)
    tmp_table.write(
        spark.createDataFrame([("f",)], "k string").coalesce(1), mode="append"
    )
    vals2 = {r["k"]: r["id"] for r in tmp_table.read().collect()}
    assert vals2["e"] is None
    assert vals2["f"] > before


def test_identity_explicit_reordered_columns_realign(spark, tmp_table):
    """r13 (ADVICE): a BY DEFAULT batch PROVIDING identity values with
    its columns in a different order than the table schema must get
    the positional realign (df.select), not fall through to the
    schema comparison and a spurious SchemaMismatchError."""
    tmp_table.write(spark.createDataFrame([], "k string"))
    tmp_table.add_identity_column("id", start=10, step=5, allow_explicit=True)
    # table schema is (k, id); write (id, k)
    tmp_table.write(
        spark.createDataFrame([(40, "a")], "id long, k string").coalesce(1),
        mode="append",
    )
    vals = {r["k"]: r["id"] for r in tmp_table.read().collect()}
    assert vals == {"a": 40}
    # and the watermark advanced past the reordered batch's value
    tmp_table.write(
        spark.createDataFrame([("b",)], "k string").coalesce(1), mode="append"
    )
    vals = {r["k"]: r["id"] for r in tmp_table.read().collect()}
    assert vals["b"] > 40 and (vals["b"] - 10) % 5 == 0


def test_cdf_basename_collision_falls_back_to_full_path(spark, tmp_table):
    """r13 (VERDICT task 5): the CDF fold keys row→event membership by
    parquet BASENAME (uuid-unique for writer-generated files — one
    substring_index per row). A foreign/hand-built log CAN carry the
    same basename under different directories; the guarded fallback
    must switch to the full relative path, or d1's rows would join
    BOTH versions' membership rows and every event count doubles."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_table.path
    for sub, rows in (
        ("d1", [(0, "alpha"), (1, "bravo")]),
        ("d2", [(2, "charlie")]),
    ):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "k": pa.array([r[0] for r in rows], pa.int64()),
                    "s": pa.array([r[1] for r in rows]),
                }
            ),
            os.path.join(root, sub, "part-000.snappy.parquet"),
        )
    schema_string = (
        '{"type":"struct","fields":['
        '{"name":"k","type":"long","nullable":true,"metadata":{}},'
        '{"name":"s","type":"string","nullable":true,"metadata":{}}]}'
    )

    def _add(rel, ts):
        return {
            "add": {
                "path": rel,
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(root, rel)),
                "modificationTime": ts,
                "dataChange": True,
            }
        }

    tmp_table._commit(0, [
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "0a", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string, "partitionColumns": [],
            "configuration": {}, "createdTime": 1000,
        }},
        _add("d1/part-000.snappy.parquet", 1000),
    ])
    tmp_table._commit(1, [
        {"commitInfo": {"timestamp": 2000, "operation": "WRITE"}},
        _add("d2/part-000.snappy.parquet", 2000),
    ])

    got = {
        (r.k, r._change_type, r._commit_version)
        for r in tmp_table.changes(0).collect()
    }
    # exactly one insert event per row, stamped with the version that
    # actually added its file — no cross-directory duplication
    assert got == {
        (0, "insert", 0), (1, "insert", 0), (2, "insert", 1),
    }
    assert tmp_table.changes(0).count() == 3


def test_add_column_exists_default_read_and_write_halves(spark, tmp_table):
    """r13 stretch (VERDICT task 8): ADD COLUMN ... DEFAULT freezes
    BOTH halves of the public column-defaults feature. Read half
    (EXISTS_DEFAULT): rows in files that physically predate the
    column surface the default, per-file presence deciding — a
    post-add file's explicitly stored NULL stays NULL. Write half
    (CURRENT_DEFAULT): later writes omitting the column fill it.
    ALTER ... SET DEFAULT re-points only the write half (Spark
    freezes EXISTS_DEFAULT at ADD time). Composes with DV deletes,
    and OPTIMIZE MATERIALIZES the default into rewritten files."""
    import pyarrow.parquet as pq

    tmp_table.checkpoint_interval = 0
    tmp_table.write(
        spark.createDataFrame(
            [("a", 1), ("b", 2), ("c", 3), ("d", 4)], "k string, v int"
        ).repartition(2)
    )  # v0: two pre-column files
    tmp_table.add_column("score", "int", default_sql="7")  # v1
    got = {r.k: r.score for r in tmp_table.read().collect()}
    assert got == {"a": 7, "b": 7, "c": 7, "d": 7}  # EXISTS_DEFAULT

    # post-add file with explicit values INCLUDING NULL: stored
    # values win; the stored NULL must NOT be filled
    tmp_table.write(
        spark.createDataFrame(
            [("e", 5, 50), ("f", 6, None)], "k string, v int, score int"
        ).coalesce(1),
        mode="append",
    )  # v2
    # post-add file OMITTING the column: CURRENT_DEFAULT fills it
    tmp_table.write(
        spark.createDataFrame([("g", 9)], "k string, v int").coalesce(1),
        mode="append",
    )  # v3
    got = {r.k: r.score for r in tmp_table.read().collect()}
    assert got == {
        "a": 7, "b": 7, "c": 7, "d": 7, "e": 50, "f": None, "g": 7
    }

    # SET DEFAULT re-points the WRITE half only; the read half stays
    # frozen at the ADD-time expression
    tmp_table.set_column_default("score", "9")  # v4
    tmp_table.write(
        spark.createDataFrame([("h", 10)], "k string, v int").coalesce(1),
        mode="append",
    )  # v5
    got = {r.k: r.score for r in tmp_table.read().collect()}
    assert got["h"] == 9
    assert got["a"] == 7  # pre-add rows keep the frozen default

    # DV delete composes: erase one PRE-ADD row, the rest keep filling
    assert tmp_table.delete(F.col("k") == "b", use_dv=True) is not None
    got = {r.k: r.score for r in tmp_table.read().collect()}
    assert "b" not in got and got["a"] == 7 and got["f"] is None

    # OPTIMIZE materializes: rewritten files physically CONTAIN the
    # column with the filled values; the read is unchanged
    assert tmp_table.optimize() is not None
    snap = tmp_table.snapshot()
    for rel in snap.files:
        cols = {
            n.split(".", 1)[0]
            for n in pq.ParquetFile(
                os.path.join(tmp_table.path, rel)
            ).schema.names
        }
        assert "score" in cols, rel
    got2 = {r.k: r.score for r in tmp_table.read().collect()}
    assert got2 == got

    # time travel: v0 predates the column entirely
    assert "score" not in tmp_table.read(version=0).columns

    # plain ADD COLUMN without a default: merge-schema NULL fill for
    # the old files is preserved (no spurious filling)
    tmp_table.add_column("note", "string")
    got3 = {r.k: r.note for r in tmp_table.read().collect()}
    assert set(got3.values()) == {None}

    # guards: duplicate name, non-constant default
    with pytest.raises(SchemaMismatchError):
        tmp_table.add_column("score", "int")
    with pytest.raises(ValueError, match="constant-foldable"):
        tmp_table.add_column("bad", "int", default_sql="v + 1")


def test_registry_fixture_memo_reuses_build_and_result_is_stable(spark):
    """r14 setup/read split: a registered delta query's commit-history
    fixture builds at most once per process per (query, sf_dir); the
    second invocation must hit the memo (same table path, no rebuild)
    and return the identical relation — the bench's timed runs 2..3
    rely on exactly this to measure the read path, and the driver's
    oracle hash relies on the result not drifting across invocations."""
    from ecommerce_lakehouse_platform_spark.registry import delta_streaming as rd
    from ecommerce_lakehouse_platform_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rd._FIXTURE_MEMO.pop(("tt", sf), None)
    first = QUERIES["ext_delta_time_travel"](spark, sf)
    rows1 = sorted(map(tuple, first.collect()))
    path1 = rd._FIXTURE_MEMO[("tt", sf)]
    mtimes1 = sorted(
        os.path.getmtime(os.path.join(path1, "_delta_log", f))
        for f in os.listdir(os.path.join(path1, "_delta_log"))
    )
    second = QUERIES["ext_delta_time_travel"](spark, sf)
    rows2 = sorted(map(tuple, second.collect()))
    assert rd._FIXTURE_MEMO[("tt", sf)] == path1  # memo hit, no rebuild
    mtimes2 = sorted(
        os.path.getmtime(os.path.join(path1, "_delta_log", f))
        for f in os.listdir(os.path.join(path1, "_delta_log"))
    )
    assert mtimes2 == mtimes1  # the log was not rewritten
    assert rows1 == rows2


def test_registry_fixture_memo_rebuilds_without_data_files(spark):
    """A memoized fixture whose data files were cleaned away while its
    _delta_log survived must be rebuilt, not served to a read that
    would fail on the missing parquet."""
    from ecommerce_lakehouse_platform_spark.registry import delta_streaming as rd
    from ecommerce_lakehouse_platform_spark.registry import QUERIES

    key = ("tt", SF_SMOKE)
    query = QUERIES["ext_delta_time_travel"]
    rd._FIXTURE_MEMO.pop(key, None)
    rows1 = sorted(map(tuple, query(spark, SF_SMOKE).collect()))
    path1 = rd._FIXTURE_MEMO[key]
    removed = 0
    for root, dirs, files in os.walk(path1):
        dirs[:] = [d for d in dirs if d != "_delta_log"]
        for f in files:
            if f.endswith(".parquet"):
                os.remove(os.path.join(root, f))
                removed += 1
    assert removed and os.path.isdir(os.path.join(path1, "_delta_log"))
    rows2 = sorted(map(tuple, query(spark, SF_SMOKE).collect()))
    assert rd._FIXTURE_MEMO[key] != path1  # rebuilt at a fresh path
    assert rows2 == rows1


def test_add_column_default_is_frozen_at_add_time(spark, tmp_table):
    """ADD COLUMN ... DEFAULT current_timestamp(): the read half
    (EXISTS_DEFAULT) is the value at ADD time, logged as a SQL literal,
    so two reads of the same old rows agree; the write half
    (CURRENT_DEFAULT) stays the expression."""
    tmp_table.write(spark.createDataFrame([("a", 1)], "k string, v int"))
    tmp_table.add_column("ts", "timestamp", default_sql="current_timestamp()")
    first = tmp_table.read().first()["ts"]
    time.sleep(0.05)
    assert tmp_table.read().first()["ts"] == first
    deleted_at = tmp_table.delete(F.col("k") == "a")
    assert tmp_table.changes(deleted_at).first()["ts"] == first
    field = tmp_table.snapshot().schema["ts"]
    assert field.metadata["CURRENT_DEFAULT"] == "current_timestamp()"
    assert field.metadata["EXISTS_DEFAULT"].startswith("TIMESTAMP '")


def _jobs_while(spark, build):
    """Spark jobs started while ``build()`` runs (its own job group)."""
    sc = spark.sparkContext
    group = f"build-{time.monotonic_ns()}"
    sc.setJobGroup(group, "build a DataFrame")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_invariants_run_inside_the_write_job(spark, tmp_table):
    """A table with one CHECK constraint and one generated column runs
    as many Spark jobs per append, pruned MERGE, copy-on-write UPDATE
    and DV UPDATE as the same table without them, and ends with the
    same rows; a replace_where overwrite runs no more jobs than a
    plain overwrite. Every check rides the write job."""

    def frame(lo, hi):
        return spark.range(lo, hi).select(
            "id", (F.col("id") * 2).alias("v"), (F.col("id") * 3).alias("g")
        )

    jobs, rows = {}, {}
    for constrained in (False, True):
        t = MiniDeltaTable(
            spark, f"{tmp_table.path}_{int(constrained)}", checkpoint_interval=0
        )
        t.write(frame(0, 40).repartition(4))
        if constrained:
            t.set_constraint("vpos", "v >= 0")
            t.set_generated_column("g", "id * 3")
        src = frame(5, 8).withColumn("v", F.col("v") + 1)
        jobs[constrained] = [
            len(_jobs_while(spark, build))
            for build in (
                lambda: t.write(frame(40, 50), mode="append"),
                lambda: t.merge(src, ["id"], prune_files=True),
                lambda: t.update(F.col("id") == 3, {"v": F.lit(7)}),
                lambda: t.update(
                    F.col("id") == 4, {"v": F.lit(9)}, use_dv=True
                ),
            )
        ]
        rows[constrained] = _canon(t.read())
        shutil.rmtree(t.path, ignore_errors=True)
    assert jobs[True] == jobs[False]
    assert rows[True] == rows[False]

    part = frame(0, 40).withColumn("p", (F.col("id") % 2).cast("int"))
    tmp_table.write(part, partition_by=["p"])
    plain = _jobs_while(spark, lambda: tmp_table.write(part))
    scoped = _jobs_while(
        spark,
        lambda: tmp_table.write(
            part.filter("p = 0"), replace_where={"p": 0}
        ),
    )
    assert len(scoped) <= len(plain)


def test_read_and_changes_build_without_jobs(spark, tmp_table):
    """read() and changes() build their DataFrames from the log alone:
    the scan schema is the log's, so no schema-inference job reads a
    footer first, whatever the table's history (partitions, a
    merge-schema append, a deletion vector)."""
    tmp_table.write(
        spark.range(0, 8).select(
            "id", (F.col("id") % 2).cast("int").alias("p")
        ),
        partition_by=["p"],
    )
    assert _jobs_while(spark, tmp_table.read) == []
    tmp_table.write(
        spark.range(8, 12).select(
            "id",
            (F.col("id") % 2).cast("int").alias("p"),
            F.lit("x").alias("note"),
        ),
        mode="append",
        merge_schema=True,
    )
    tmp_table.delete(F.col("id") == 3, use_dv=True)
    assert _jobs_while(spark, tmp_table.read) == []
    assert _jobs_while(spark, lambda: tmp_table.changes(0)) == []
    assert tmp_table.read().count() == 11
    assert tmp_table.read().filter("note = 'x'").count() == 4


def _defaulted(spark, path, tracked=False):
    """ids 0..5 in two files, then ADD COLUMN c INT DEFAULT 5: every
    row reads c = 5 from files that physically lack c."""
    t = MiniDeltaTable(spark, path, checkpoint_interval=0)
    t.write(spark.range(0, 6).repartition(2))
    if tracked:
        t.enable_row_tracking()
    t.add_column("c", "int", default_sql="5")
    return t


def _fold(df, cols):
    """Net row multiset of a change feed: +1 per insert, -1 per delete."""
    from collections import Counter

    net = Counter()
    for r in df.collect():
        net[tuple(r[c] for c in cols)] += (
            1 if r["_change_type"] == "insert" else -1
        )
    return {k: n for k, n in net.items() if n}


def _case_dv_delete(spark, t, path):
    twin = _defaulted(spark, path + "_cow")
    t.delete(F.col("c") == 5, use_dv=True)
    twin.delete(F.col("c") == 5)
    return _canon(t.read()), _canon(twin.read())


def _case_tracked_optimize(spark, t, path):
    t.write(
        spark.createDataFrame([(6, 7), (7, 7)], "id long, c int"),
        mode="append",
    )  # stored values stay
    before = _canon(t.read())
    t.optimize()
    return _canon(t.read()), before


def _case_tracked_update(spark, t, path):
    want = _canon(
        t.read().withColumn(
            "id", F.when(F.col("id") == 0, 100).otherwise(F.col("id"))
        )
    )
    t.update(F.col("id") == 0, {"id": F.lit(100)})
    return _canon(t.read()), want


def _case_bloom_point_read(spark, t, path):
    want = _canon(t.read().filter(F.col("c") == 5))
    t.build_bloom_index("c")
    return _canon(t.read(where=("c", 5, 5))), want


def _case_changes_fold(spark, t, path):
    v_add = t.snapshot().version
    v_del = t.delete(F.col("id") == 0)
    # the snapshot diff as a fold: the old rows out, the new rows in
    before = t.read(version=v_add).withColumn("_change_type", F.lit("delete"))
    after = t.read(version=v_del).withColumn("_change_type", F.lit("insert"))
    cols = ["id", "c"]
    return (
        _fold(t.changes(v_add + 1, v_del), cols),
        _fold(before.unionByName(after), cols),
    )


def _case_row_ids(spark, t, path):
    got = t.read(with_row_ids=True)
    assert sorted(r._row_id for r in got.collect()) == list(range(6))
    return _canon(got.drop("_row_id")), _canon(t.read())


@pytest.mark.parametrize(
    "case, tracked",
    [
        (_case_dv_delete, False),
        (_case_tracked_optimize, True),
        (_case_tracked_update, True),
        (_case_bloom_point_read, False),
        (_case_changes_fold, False),
        (_case_row_ids, True),
    ],
    ids=[
        "dv_delete",
        "tracked_optimize",
        "tracked_update",
        "bloom_point_read",
        "changes_fold",
        "row_ids",
    ],
)
def test_exists_default_survives_every_scan(spark, tmp_table, case, tracked):
    """An ADD COLUMN default is part of the row on every path that
    scans the table's files: a DV delete matches it, a row-tracked
    OPTIMIZE or UPDATE rewrites it, the bloom build indexes it, the
    change feed's delete events show it (so the fold over a window
    after the ADD equals the snapshot diff), and row-id reads carry
    it. Each case compares against the copy-on-write twin or the
    pre-op read()."""
    t = _defaulted(spark, tmp_table.path, tracked)
    assert {r.c for r in t.read().collect()} == {5}
    got, want = case(spark, t, tmp_table.path)
    assert got == want


def test_checkpoint_hint_never_moves_back(spark, tmp_table):
    """``_last_checkpoint`` names the newest checkpoint: re-writing an
    older checkpoint after log expiry must not move it back (the
    snapshot would chain from the older checkpoint across expired
    commits), and a replay that finds a commit missing between its
    checkpoint and its target raises instead of skipping it."""
    tmp_table.checkpoint_interval = 0
    for i in range(5):
        tmp_table.write(
            spark.range(i * 5, i * 5 + 5), mode="append" if i else "overwrite"
        )
    tmp_table.checkpoint(2)
    tmp_table.checkpoint(4)
    tmp_table.expire_log()
    assert tmp_table.read().count() == 25
    tmp_table.checkpoint(2)
    assert tmp_table._latest_checkpoint_version() == 4
    assert tmp_table.read().count() == 25
    assert tmp_table.read(version=2).count() == 15

    tmp_table.write(spark.range(25, 30), mode="append")  # v5
    tmp_table.write(spark.range(30, 35), mode="append")  # v6
    os.unlink(tmp_table._version_file(5))
    with pytest.raises(ValueError, match="commit 5 is missing"):
        tmp_table.snapshot(6)


def test_plain_partitioned_read_keeps_one_pruned_scan(spark, tmp_table):
    """The plan dashboards and snapshot reads depend on: a DV-less read
    of a partitioned table is ONE parquet scan whose partition filter
    prunes directories — no join and no ``_metadata`` column."""
    import datetime

    df = spark.range(0, 40).select(
        "id", F.expr("date_add(DATE'2024-01-01', CAST(id % 4 AS INT))").alias("d")
    )
    tmp_table.write(df, partition_by=["d"])
    q = tmp_table.read().filter(
        F.col("d").between(datetime.date(2024, 1, 2), datetime.date(2024, 1, 3))
    )
    assert q.count() == 20
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    plan = q._jdf.queryExecution().explainString(jmode)
    assert plan.count("FileScan parquet") == 1, plan
    filters = re.search(r"PartitionFilters: \[(.*)\]", plan)
    assert filters and "d#" in filters.group(1), plan
    assert "Join" not in plan, plan
    assert "_metadata" not in plan, plan


def test_partitioned_clone_composes_dvs_and_defaults(spark, tmp_table):
    """A partitioned shallow clone reads its source's deletion vectors
    and column defaults through the same scan as the source: partition
    values come from the log, each sidecar's rels resolve against the
    source root, and a file lacking a defaulted column fills it."""
    tmp_table.checkpoint_interval = 0
    tmp_table.write(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a"), (4, None)], "id int, p string"
        ),
        partition_by=["p"],
    )
    tmp_table.add_column("c", "int", default_sql="5")
    tmp_table.delete(F.col("id") == 3, use_dv=True)
    clone = tmp_table.clone(tmp_table.path + "_clone")
    assert _canon(clone.read()) == _canon(tmp_table.read())
    assert {(r.id, r.p, r.c) for r in clone.read().collect()} == {
        (1, "a", 5), (2, "b", 5), (4, None, 5)
    }
    assert _fold(clone.changes(0), ["id", "p", "c"]) == {
        (1, "a", 5): 1, (2, "b", 5): 1, (4, None, 5): 1
    }
