"""Structured Streaming over the mini Delta change feed
(streaming/cdf_source.py, Spark 4 Python DataSource API): the
streamed events must equal the batch ``changes()`` contract exactly —
including the deletion-vector composition — and a checkpointed
restart must resume at precisely the next unprocessed commit."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import textwrap
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ecommerce_lakehouse_platform_spark.sources.deltalog import MiniDeltaTable
from ecommerce_lakehouse_platform_spark.streaming.cdf_source import (
    MiniDeltaCDFStreamReader,
    read_cdf_stream,
)


@pytest.fixture()
def base(spark):
    d = tempfile.mkdtemp(prefix="cdfsrc_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _canon(df):
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def _drain(stream, ckpt: str, out: str) -> None:
    # parquet sink: fault-tolerant, so the checkpoint supports restart
    # (the memory sink does not)
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_cdf_stream_equals_batch_changes_with_dvs(spark, base):
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    df = spark.range(0, 100).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df)  # v0
    t.write(df.limit(10), mode="append")  # v1
    assert t.delete(F.col("v") < 10, use_dv=True) == 2  # v2: DV commit
    ckpt = os.path.join(base, "ckpt")
    out = os.path.join(base, "events")

    _drain(read_cdf_stream(spark, t.path), ckpt, out)
    got = spark.read.parquet(out)
    assert _canon(got) == _canon(t.changes(0))
    # the DV commit streamed as row-level deletes of exactly the new
    # positions — no delete-all/insert-all of the touched file
    v2 = dict(
        (r["_change_type"], r["count"])
        for r in got.filter(F.col("_commit_version") == 2)
        .groupBy("_change_type")
        .count()
        .collect()
    )
    assert v2 == {"delete": 10}

    # RESTART from the same checkpoint after a new commit: only the
    # new version's events arrive (offsets = log versions)
    t.update(F.col("k") == "50", {"v": F.lit(999)})  # v3
    _drain(read_cdf_stream(spark, t.path), ckpt, out)
    everything = spark.read.parquet(out)
    fresh = everything.join(got, list(everything.columns), "left_anti")
    assert {r["_commit_version"] for r in fresh.collect()} == {3}
    assert _canon(fresh) == _canon(t.changes(3, 3))

    # fold of everything streamed == the live table, multiplicity
    # included (the v1 append duplicated rows, so compare multisets)
    cols = [c for c in everything.columns if not c.startswith("_")]
    net = (
        everything.groupBy(*cols)
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("_n")
        )
        .filter(F.col("_n") > 0)
    )
    live = t.read().groupBy(*cols).agg(F.count(F.lit(1)).alias("_n"))
    assert _canon(net) == _canon(live)


def test_cdf_stream_partitioned_table(spark, base):
    """Partitioned tables stream: partition values come from the LOG
    (adds) or the hive path (removes) and re-type on emission —
    streamed events equal batch changes() across an overwrite."""
    t = MiniDeltaTable(spark, os.path.join(base, "p"))
    df = spark.range(0, 40).select(
        F.col("id").cast("string").alias("k"),
        (F.col("id") % 3).alias("part"),
        F.to_date(F.lit("2024-01-01")).alias("d"),
    )
    t.write(df, partition_by=["part"])  # v0
    t.write(df.filter(F.col("part") == 1))  # v1: delete-all+insert
    ckpt, out = os.path.join(base, "ckpt_p"), os.path.join(base, "ev_p")
    _drain(read_cdf_stream(spark, t.path), ckpt, out)
    got = spark.read.parquet(out)
    assert _canon(got) == _canon(t.changes(0))
    assert dict(got.dtypes)["part"] == "bigint"
    assert dict(got.dtypes)["d"] == "date"


def test_cdf_stream_guards(spark, base):
    df = spark.range(0, 20).select(
        F.col("id").cast("string").alias("k"),
        (F.col("id") % 2).cast("double").alias("part"),
    )
    # exotic partition-column type refuses at query start
    t = MiniDeltaTable(spark, os.path.join(base, "pd"))
    t.write(df, partition_by=["part"])
    with pytest.raises(NotImplementedError, match="string/integral/date"):
        MiniDeltaCDFStreamReader({"path": t.path}, None)

    t2 = MiniDeltaTable(spark, os.path.join(base, "u"))
    t2.write(df.drop("part"))
    with pytest.raises(ValueError, match="startingVersion"):
        MiniDeltaCDFStreamReader(
            {"path": t2.path, "startingVersion": "-5"}, None
        )
    with pytest.raises(ValueError, match="path"):
        MiniDeltaCDFStreamReader({}, None)


def test_cdf_stream_medallion_end_to_end(spark, base):
    """The full streaming-lakehouse loop with every r9 piece: a BRONZE
    MiniDelta table mutates (write, append, DV delete); its change
    feed streams through format('minidelta_cdf'); a foreachBatch
    transform folds the events and appends to a SILVER MiniDelta table
    with txn-stamped exactly-once commits. The silver table must equal
    the batch-computed silver relation, and a replayed epoch must not
    duplicate."""
    from ecommerce_lakehouse_platform_spark.streaming.delta_sink import (
        delta_append_batch,
    )

    bronze = MiniDeltaTable(spark, os.path.join(base, "bronze"))
    silver = MiniDeltaTable(spark, os.path.join(base, "silver"))
    df = spark.range(0, 60).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 3).alias("v")
    )
    bronze.write(df)  # v0
    bronze.write(df.withColumn("v", F.col("v") + 1).limit(20))  # v1
    assert bronze.delete(F.col("v") % 2 == 0, use_dv=True) is not None  # v2

    sink = delta_append_batch(silver, app_id="cdf-silver")

    def fold_to_silver(batch_df, batch_id):
        # transform: keep only the INSERT events' data columns, add a
        # derived column — the bronze->silver shape of the reference
        out = (
            batch_df.filter(F.col("_change_type") == "insert")
            .select("k", "v", (F.col("v") * 2).alias("v2"))
        )
        sink(out, batch_id)

    ckpt = os.path.join(base, "ckpt_m")
    q = (
        read_cdf_stream(spark, bronze.path)
        .writeStream.foreachBatch(fold_to_silver)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # silver == every insert event ever, transformed (batch-computed)
    want = (
        bronze.changes(0)
        .filter(F.col("_change_type") == "insert")
        .select("k", "v", (F.col("v") * 2).alias("v2"))
    )
    assert _canon(silver.read()) == _canon(want)

    # exactly-once: replaying the committed epoch is a no-op
    before = silver.snapshot().version
    replay = (
        bronze.changes(0)
        .filter(F.col("_change_type") == "insert")
        .select("k", "v", (F.col("v") * 2).alias("v2"))
    )
    sink(replay, 0)  # batch id 0 already committed
    assert silver.snapshot().version == before
    assert _canon(silver.read()) == _canon(want)

    # new bronze commits flow incrementally on restart
    bronze.write(
        df.limit(5).withColumn("v", F.lit(7).cast("bigint")), mode="append"
    )
    q2 = (
        read_cdf_stream(spark, bronze.path)
        .writeStream.foreachBatch(fold_to_silver)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    want2 = (
        bronze.changes(0)
        .filter(F.col("_change_type") == "insert")
        .select("k", "v", (F.col("v") * 2).alias("v2"))
    )
    assert _canon(silver.read()) == _canon(want2)


def test_cdf_stream_latest_and_schema_change_guard(spark, base):
    """startingVersion='latest' tails only post-start commits, and a
    schema-changing commit inside the stream range raises (the real
    Delta streaming source's stop-the-stream behavior)."""
    t = MiniDeltaTable(spark, os.path.join(base, "l"))
    df = spark.range(0, 30).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df)  # v0
    t.write(df.limit(5), mode="append")  # v1

    stream = read_cdf_stream(spark, t.path, starting_version="latest")
    ckpt, out = os.path.join(base, "ckpt_l"), os.path.join(base, "ev_l")
    _drain(stream, ckpt, out)
    try:
        n0 = spark.read.parquet(out).count()
    except Exception:
        n0 = 0  # no batch at all: nothing new since query start
    assert n0 == 0
    t.write(df.limit(3), mode="append")  # v2: the only streamed commit
    _drain(read_cdf_stream(spark, t.path, starting_version="latest"),
           ckpt, out)
    got = spark.read.parquet(out)
    assert {r["_commit_version"] for r in got.collect()} == {2}
    assert got.count() == 3

    # ADDITIVE schema evolution mid-range: the pinned (query-start)
    # schema subsumes the historical one, so a full replay plans
    # cleanly — old events null-fill the added column (r11: the guard
    # keys on read-compatibility, not schema identity)
    t.write(
        df.withColumn("flag", F.lit(True)), overwrite_schema=True
    )  # v3
    reader = MiniDeltaCDFStreamReader({"path": t.path}, None)
    assert reader.partitions({"version": -1}, {"version": 3})

    # an INCOMPATIBLE evolution (a column retyped in a way no
    # typeChanges provenance explains) still refuses loudly
    t.write(
        df.select(
            "k", F.col("v").cast("string").alias("v")
        ).withColumn("flag", F.lit(True)),
        overwrite_schema=True,
    )  # v4
    reader2 = MiniDeltaCDFStreamReader({"path": t.path}, None)
    with pytest.raises(RuntimeError, match="schema"):
        reader2.partitions({"version": -1}, {"version": 4})


def test_cdf_partitions_incremental_cache_parity(spark, base):
    """A reader plans each micro-batch from its own commits only, so
    the partitions a reader that already planned earlier batches
    produces must equal a fresh reader's for every range shape —
    continuation, gap, and out-of-order retry."""
    t = MiniDeltaTable(spark, os.path.join(base, "c"))
    df = spark.range(0, 50).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df)  # v0
    t.delete(F.col("v") < 20, use_dv=True)  # v1: DV
    t.write(df.limit(5), mode="append")  # v2
    t.delete(F.col("v") >= 80, use_dv=True)  # v3: second DV
    t.update(F.col("k") == "25", {"v": F.lit(1).cast("bigint")})  # v4

    def specs(reader, lo, hi):
        return [
            p.spec
            for p in reader.partitions({"version": lo}, {"version": hi})
        ]

    warm = MiniDeltaCDFStreamReader({"path": t.path}, None)
    seq = [(-1, 1), (1, 3), (3, 4)]  # sequential batches (warm cache)
    warm_specs = [specs(warm, lo, hi) for lo, hi in seq]
    for (lo, hi), got in zip(seq, warm_specs):
        cold = MiniDeltaCDFStreamReader({"path": t.path}, None)
        assert got == specs(cold, lo, hi), (lo, hi)
    # out-of-order retry after the cache advanced: rebuilds, same plan
    retry = specs(warm, 0, 2)
    cold = MiniDeltaCDFStreamReader({"path": t.path}, None)
    assert retry == specs(cold, 0, 2)
    # gap continuation (skip a range, state must still replay it)
    warm2 = MiniDeltaCDFStreamReader({"path": t.path}, None)
    specs(warm2, -1, 1)
    gap = specs(warm2, 2, 4)  # state for v2 replays v2 internally
    cold = MiniDeltaCDFStreamReader({"path": t.path}, None)
    assert gap == specs(cold, 2, 4)


def test_max_versions_per_trigger_bounds_batches(spark, base):
    """Admission control: with maxVersionsPerTrigger=1, a backlog of K
    commits drains in K single-version micro-batches (not one giant
    batch), and the union of the batches equals batch ``changes(0)``
    exactly — bounding admission must never drop or duplicate an
    event."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    df = spark.range(0, 40).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.limit(10))  # v0
    t.write(df.limit(20), mode="append")  # v1
    assert t.delete(F.col("v") < 4, use_dv=True)  # v2: DV positions
    t.write(df.limit(5), mode="append")  # v3
    batches: list[tuple[list[int], list[tuple]]] = []

    def sink(bdf, _bid):
        rows = bdf.select(*sorted(bdf.columns)).collect()
        vs = sorted({r["_commit_version"] for r in rows})
        batches.append((vs, [tuple(r) for r in rows]))

    q = (
        read_cdf_stream(spark, t.path, max_versions_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    nonempty = [vs for vs, _ in batches if vs]
    assert all(len(vs) == 1 for vs in nonempty), nonempty
    assert [vs[0] for vs in nonempty] == [0, 1, 2, 3]
    got = sorted(row for _, rows in batches for row in rows)
    assert got == _canon(t.changes(0))


def test_resume_past_expired_log_refuses_actionably(spark, base):
    """A checkpointed consumer resuming AFTER the log expired past its
    next unprocessed commit must refuse with the earliest retained
    version — not silently resume with a gap in the feed."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"), checkpoint_interval=4)
    df = spark.range(0, 30).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.limit(10))  # v0
    t.write(df.limit(12), mode="append")  # v1
    ckpt, out = os.path.join(base, "ckpt"), os.path.join(base, "events")
    _drain(read_cdf_stream(spark, t.path), ckpt, out)  # consumed →v1
    for i in range(3):  # v2..v4 land while the consumer is down
        t.write(df.limit(3 + i), mode="append")
    assert t.expire_log() == [0, 1, 2, 3]  # retained: [4]
    with pytest.raises(Exception, match="earliest retained"):
        _drain(read_cdf_stream(spark, t.path), ckpt, out)


def test_restart_resumes_despite_expired_starting_version(spark, base):
    """startingVersion validity is a FRESH-start concern: a restarted
    query whose original startingVersion has since expired — but whose
    checkpoint sits inside the retained log — must resume normally
    (the guard lives in initialOffset, which the engine only calls
    when there is no checkpoint). A genuinely fresh query at the
    expired version still refuses."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"), checkpoint_interval=2)
    df = spark.range(0, 30).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.limit(10))  # v0
    t.write(df.limit(12), mode="append")  # v1
    t.write(df.limit(4), mode="append")  # v2 (auto-checkpoint here)
    ckpt, out = os.path.join(base, "ckpt"), os.path.join(base, "events")
    _drain(read_cdf_stream(spark, t.path, starting_version=0), ckpt, out)
    assert t.expire_log() == [0, 1]  # retained: [2]
    t.write(df.limit(6), mode="append")  # v3
    # restart from the checkpoint: startingVersion=0 is expired but
    # irrelevant — next unprocessed commit (3) is retained
    _drain(read_cdf_stream(spark, t.path, starting_version=0), ckpt, out)
    got = spark.read.parquet(out)
    assert got.filter(F.col("_commit_version") == 3).count() == 6
    # a FRESH query at the expired version refuses loudly
    with pytest.raises(Exception, match="predates the retained"):
        _drain(
            read_cdf_stream(spark, t.path, starting_version=0),
            os.path.join(base, "ckpt_fresh"),
            os.path.join(base, "events_fresh"),
        )


def test_mid_stream_schema_reserialization_tolerated(spark, base):
    """The mid-stream schema-change check compares PARSED schemas: a
    commit restating the SAME schema with a different JSON key order
    (another writer's serializer) must not kill the stream; a commit
    that genuinely changes the schema still raises."""
    import json

    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    df = spark.range(0, 20).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.limit(10))  # v0
    t.write(df.limit(15), mode="append")  # v1
    # inject into v1 a metaData action identical to v0's except the
    # schemaString is re-serialized with sorted keys
    v0 = os.path.join(t.path, "_delta_log", "00000000000000000000.json")
    v1 = os.path.join(t.path, "_delta_log", "00000000000000000001.json")
    meta = next(
        json.loads(line)
        for line in open(v0)
        if "metaData" in json.loads(line)
    )
    meta["metaData"]["schemaString"] = json.dumps(
        json.loads(meta["metaData"]["schemaString"]), sort_keys=True
    )
    body = open(v1).read()
    with open(v1, "w") as fh:
        fh.write(json.dumps(meta) + "\n" + body)
    ckpt, out = os.path.join(base, "ckpt"), os.path.join(base, "events")
    _drain(read_cdf_stream(spark, t.path), ckpt, out)  # must not raise
    assert _canon(spark.read.parquet(out)) == _canon(t.changes(0))


def test_clone_absolute_dv_refs_stream(spark, base):
    """A shallow clone's v0 references the source's files ABSOLUTELY,
    including DV-carrying ones whose sidecar rel values are
    SOURCE-relative: the stream must translate the rel domain exactly
    like batch ``changes()`` (``deltalog._dv_root``) or the DV-deleted
    rows silently resurrect as inserts."""
    src = MiniDeltaTable(spark, os.path.join(base, "src"))
    df = spark.range(0, 100).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 2).alias("v")
    )
    src.write(df)  # v0
    assert src.delete(F.col("v") < 20, use_dv=True)  # v1: DV on source
    clone = src.clone(os.path.join(base, "clone"))
    ckpt, out = os.path.join(base, "ckpt"), os.path.join(base, "events")
    _drain(read_cdf_stream(spark, clone.path), ckpt, out)
    got = spark.read.parquet(out)
    # 90 surviving rows stream as inserts; the 10 DV-dead ones don't
    assert got.filter(F.col("_change_type") == "insert").count() == 90
    assert _canon(got) == _canon(clone.changes(0))


def test_max_bytes_per_trigger_soft_caps_batches(spark, base):
    """maxBytesPerTrigger: batches stop before the version that would
    exceed the admitted add-byte cap, a tiny cap still admits one
    version per batch (the >=1 floor — an oversized commit must pass
    alone, not wedge the stream), both caps compose, and the union of
    all batches equals batch ``changes(0)`` exactly."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    df = spark.range(0, 40).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 2).alias("v")
    )
    for i in range(4):  # v0..v3, one small file each
        t.write(df.limit(10 + i), mode="append" if i else "overwrite")
    sizes = [
        sum(
            int(a["add"]["size"])
            for a in t._read_actions(v)
            if "add" in a
        )
        for v in range(4)
    ]
    assert all(s > 0 for s in sizes)

    def drain(reader, name):
        batches: list[list[int]] = []

        def sink(bdf, _bid):
            vs = sorted(
                {r["_commit_version"] for r in bdf.collect()}
            )
            if vs:
                batches.append(vs)

        q = (
            reader.writeStream.foreachBatch(sink)
            .option(
                "checkpointLocation", os.path.join(base, f"ckpt_{name}")
            )
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return batches

    # cap = v0+v1 bytes: batch 1 admits {0,1} (v2 would exceed),
    # batch 2 admits {2,3} iff they fit, else {2} then {3}
    cap = sizes[0] + sizes[1]
    got = drain(
        read_cdf_stream(spark, t.path, max_bytes_per_trigger=cap), "two"
    )
    assert got[0] == [0, 1], got
    assert [v for vs in got for v in vs] == [0, 1, 2, 3]

    # 1-byte cap: every batch is exactly one version (the >=1 floor)
    got1 = drain(
        read_cdf_stream(spark, t.path, max_bytes_per_trigger=1), "one"
    )
    assert got1 == [[0], [1], [2], [3]], got1

    # compose with maxVersionsPerTrigger: a huge byte cap but N=1
    # still drains version-at-a-time (the stricter cap wins)
    gotc = drain(
        read_cdf_stream(
            spark,
            t.path,
            max_versions_per_trigger=1,
            max_bytes_per_trigger="1g",
        ),
        "both",
    )
    assert gotc == [[0], [1], [2], [3]], gotc

    # suffix parsing (unit check, no stream)
    from ecommerce_lakehouse_platform_spark.streaming.cdf_source import (
        _parse_bytes,
    )

    assert _parse_bytes("10k") == 10 << 10
    assert _parse_bytes("50m") == 50 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("123") == 123


def test_table_stream_tails_appends(spark, base):
    """minidelta_stream: append commits stream each added file's rows
    (schema = the TABLE schema, no CDF columns), startingVersion=0
    replays an append-only table in full, housekeeping commits are
    invisible, and a checkpointed restart picks up later appends
    without re-emitting."""
    from ecommerce_lakehouse_platform_spark.streaming.cdf_source import (
        read_table_stream,
    )

    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    df = spark.range(0, 60).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.limit(10))  # v0
    t.write(df.limit(25).exceptAll(df.limit(10)), mode="append")  # v1
    t.optimize(max_file_bytes=1 << 30)  # dataChange=false: invisible

    ckpt, out = os.path.join(base, "ckpt"), os.path.join(base, "events")
    _drain(read_table_stream(spark, t.path), ckpt, out)
    got = spark.read.parquet(out)
    assert sorted(got.columns) == ["k", "v"]
    assert _canon(got) == _canon(t.read())

    # later appends resume from the checkpoint (no duplicates)
    t.write(df.limit(30).exceptAll(df.limit(25)), mode="append")
    _drain(read_table_stream(spark, t.path), ckpt, out)
    assert _canon(spark.read.parquet(out)) == _canon(t.read())


def test_table_stream_change_commits_raise_or_skip(spark, base):
    """A commit that deletes or rewrites rows kills the plain table
    stream by default (tailing a rewrite's adds would duplicate rows
    downstream); skipChangeCommits=true skips the whole commit and the
    stream continues with later appends; ignoreDeletes=true passes
    remove-only commits but still refuses rewrites."""
    from ecommerce_lakehouse_platform_spark.streaming.cdf_source import (
        read_table_stream,
    )

    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    df = spark.range(0, 40).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.limit(20))  # v0
    assert t.delete(F.col("v") < 6, use_dv=True) == 1  # v1: DV rewrite
    t.write(df.limit(25).exceptAll(df.limit(20)), mode="append")  # v2

    with pytest.raises(Exception, match="skipChangeCommits"):
        _drain(
            read_table_stream(spark, t.path),
            os.path.join(base, "ckpt_raise"),
            os.path.join(base, "out_raise"),
        )
    # ignoreDeletes alone does NOT cover a DV rewrite (it has adds)
    with pytest.raises(Exception, match="skipChangeCommits"):
        _drain(
            read_table_stream(spark, t.path, ignore_deletes=True),
            os.path.join(base, "ckpt_igdel"),
            os.path.join(base, "out_igdel"),
        )

    out = os.path.join(base, "out_skip")
    _drain(
        read_table_stream(spark, t.path, skip_change_commits=True),
        os.path.join(base, "ckpt_skip"),
        out,
    )
    # v0's 20 rows + v2's 5 appended rows; the DV delete is skipped,
    # so the 3 deleted rows still appear (the documented trade of
    # skipChangeCommits — consumers needing deletes use the CDF)
    got = spark.read.parquet(out)
    assert got.count() == 25
    assert _canon(got) == _canon(
        df.limit(20).unionByName(df.limit(25).exceptAll(df.limit(20)))
    )


def test_table_stream_ignore_deletes_remove_only(spark, base):
    """ignoreDeletes=true passes a REMOVE-ONLY commit (the
    partition-boundary delete case) while the default still raises."""
    from ecommerce_lakehouse_platform_spark.streaming.cdf_source import (
        read_table_stream,
    )

    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    df = spark.range(0, 30).select(
        (F.col("id") % 2 == 0).cast("string").alias("even"),
        F.col("id").alias("v"),
    )
    t.write(df, partition_by=["even"])  # v0
    # whole-partition delete: every touched file dies with no
    # replacement rows -> remove-only commit
    v1 = t.delete(F.col("even") == "true")
    assert v1 == 1
    acts = t._read_actions(v1)
    assert any("remove" in a for a in acts)
    assert not any(
        "add" in a and a["add"].get("dataChange", True) for a in acts
    )
    t.write(
        spark.range(100, 103).select(
            F.lit("false").alias("even"), F.col("id").alias("v")
        ),
        mode="append",
    )  # v2

    with pytest.raises(Exception, match="ignoreDeletes"):
        _drain(
            read_table_stream(spark, t.path),
            os.path.join(base, "ckpt_raise"),
            os.path.join(base, "out_raise"),
        )
    out = os.path.join(base, "out_ok")
    _drain(
        read_table_stream(spark, t.path, ignore_deletes=True),
        os.path.join(base, "ckpt_ok"),
        out,
    )
    got = spark.read.parquet(out)
    # the stream tails ADDS: v0's full table + v2's appends; the
    # remove-only delete is skipped (its rows were already emitted)
    assert got.count() == 33
    # partition values round-trip through the hive-path re-typing
    assert set(
        r["even"] for r in got.select("even").distinct().collect()
    ) == {"true", "false"}


def test_cdf_stream_replays_across_type_widening(spark, base):
    """A full-history stream over a widened table: pre-widening
    files upcast executor-side (arrow cast), the widening commit's
    metaData does NOT kill the replay (the pinned schema subsumes
    it via the typeChanges provenance), and the drained feed equals
    batch changes(0). A genuinely incompatible historical schema —
    one the provenance can't explain — still raises."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    narrow = spark.range(0, 40).select(
        F.col("id").cast("string").alias("k"),
        F.col("id").cast("int").alias("v"),
    )
    t.write(narrow)  # v0 (int)
    t.enable_type_widening()  # v1 (config restates the narrow schema)
    t.write(  # v2: widens v to bigint
        spark.range(40, 50).select(
            F.col("id").cast("string").alias("k"),
            (F.col("id") + F.lit(5_000_000_000)).alias("v"),
        ),
        mode="append",
        merge_schema=True,
    )
    t.delete(F.col("v") == 7, use_dv=True)  # v3: DV over a NARROW file

    ckpt = os.path.join(base, "ckpt")
    out = os.path.join(base, "events")
    _drain(read_cdf_stream(spark, t.path), ckpt, out)
    got = spark.read.parquet(out)
    assert dict(got.dtypes)["v"] == "bigint"
    assert _canon(got) == _canon(t.changes(0))

    # the read-compatibility gate is provenance-keyed, not a blanket
    # pass: a historical schema with a field the pinned one lacks
    # still refuses
    from ecommerce_lakehouse_platform_spark.streaming.cdf_source import (
        _read_compatible,
    )
    from pyspark.sql import types as T

    pinned = t.snapshot().schema
    assert _read_compatible(
        T.StructType(
            [
                T.StructField("k", T.StringType()),
                T.StructField("v", T.IntegerType()),
            ]
        ),
        pinned,
    )
    assert not _read_compatible(
        T.StructType([T.StructField("gone", T.StringType())]), pinned
    )
    assert not _read_compatible(
        T.StructType([T.StructField("v", T.DoubleType())]), pinned
    )


def test_stream_seeds_from_v2_checkpoint_after_expiry(spark, base):
    """The streaming sources replay log state driver-side without a
    SparkSession — that replay must read V2 checkpoints (manifest +
    sidecars) too: expire the JSON history behind a v2 checkpoint,
    then stream from the checkpointed version and compare against
    batch changes()."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"), checkpoint_interval=0)
    df = spark.range(0, 60).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.write(df.repartition(4))  # v0
    t.enable_v2_checkpoints()  # v1
    t.delete(F.col("v") < 10, use_dv=True)  # v2: DV state must survive
    t.checkpoint()  # v2 checkpoint (v2 layout)
    assert t.expire_log() == [0, 1]
    t.write(df.limit(5), mode="append")  # v3
    t.update(
        F.col("k") == "30", {"v": F.lit(999).cast("bigint")}, use_dv=True
    )  # v4: DV update — preimage is ONE delete, not a file rewrite

    ckpt = os.path.join(base, "ckpt")
    out = os.path.join(base, "events")
    _drain(
        read_cdf_stream(spark, t.path, starting_version=3), ckpt, out
    )
    got = spark.read.parquet(out)
    assert _canon(got) == _canon(t.changes(3))
    # the replayed DV state came through the v2 manifest: the v4
    # update's preimage delete is exactly one row, not a file replay
    v4 = got.filter(F.col("_commit_version") == 4)
    assert v4.filter(F.col("_change_type") == "delete").count() == 1


@pytest.mark.parametrize("mode", ["batch", "stream"])
def test_cdf_from_checkpointed_dv_commit_after_expiry(spark, base, mode):
    """A change feed starting at a DV commit that is also the oldest
    retained state (checkpointed there, everything before expired)
    shows exactly that commit's deletes. The remove records the DV it
    replaces, so nothing comes from the checkpoint — whose adds
    already carry the NEW DV and would turn the commit into a
    delete-all/insert-all of every touched file's surviving rows."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"), checkpoint_interval=0)
    df = spark.range(0, 40).select(
        F.col("id").cast("string").alias("k"), F.col("id").alias("v")
    )
    t.write(df)  # v0
    t.write(df.filter(F.col("v") < 3), mode="append")  # v1
    t.delete(F.col("v") < 10, use_dv=True)  # v2: DV commit
    t.checkpoint()
    assert t.expire_log() == [0, 1]
    if mode == "batch":
        got = t.changes(2, 2)
    else:
        out = os.path.join(base, "events")
        _drain(
            read_cdf_stream(spark, t.path, starting_version=2),
            os.path.join(base, "ckpt"),
            out,
        )
        got = spark.read.parquet(out)
    rows = got.select("_change_type", "v").collect()
    assert {r["_change_type"] for r in rows} == {"delete"}
    assert sorted(r["v"] for r in rows) == sorted([*range(10), 0, 1, 2])


def test_python_workers_find_package_from_any_cwd(tmp_path):
    """``get_spark`` hands Python workers the package's parent
    directory: a stream through the package's Python data source
    drains from a working directory outside the repository with no
    PYTHONPATH set."""
    repo = Path(__file__).resolve().parent.parent
    script = tmp_path / "drain.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {str(repo)!r})
            from pyspark.sql import functions as F
            from ecommerce_lakehouse_platform_spark.session import get_spark
            from ecommerce_lakehouse_platform_spark.sources.deltalog import (
                MiniDeltaTable,
            )
            from ecommerce_lakehouse_platform_spark.streaming.cdf_source import (
                read_cdf_stream,
            )

            spark = get_spark(cpus=1, shuffle_partitions=1)
            t = MiniDeltaTable(spark, {str(tmp_path / "t")!r})
            t.write(spark.range(5).select(F.col("id").alias("v")))
            out = {str(tmp_path / "out")!r}
            q = (
                read_cdf_stream(spark, t.path)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", {str(tmp_path / "ckpt")!r})
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            print("ROWS", spark.read.parquet(out).count())
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "ROWS 5" in proc.stdout, proc.stderr[-3000:]
