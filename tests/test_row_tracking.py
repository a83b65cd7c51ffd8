"""Row tracking (sources/deltalog.py): stable row identities per the
public Delta protocol's "Row Tracking" feature — baseRowId on every
add, fresh id = baseRowId + file row index, the assignment high
watermark in domainMetadata, and id preservation across rewrites via
the hidden materialized column. Mini-subset deviations (MERGE/DV-UPDATE
rewrites assign fresh ids) are pinned here too, loudly.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ecommerce_lakehouse_platform_spark.sources.deltalog import (
    MiniDeltaTable,
    SchemaMismatchError,
)


@pytest.fixture()
def base(spark):
    d = tempfile.mkdtemp(prefix="rowtrack_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _df(spark, n=40):
    return spark.range(0, n).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 2).alias("v")
    )


def _ids(t, **kw):
    return {
        r["k"]: r["_row_id"]
        for r in t.read(with_row_ids=True, **kw).collect()
    }


def test_enable_backfills_and_fresh_ids_continue(spark, base):
    """enable_row_tracking(): existing adds get baseRowId in ONE
    dataChange=false commit (invisible to the change feed), ids are
    dense and unique, appends continue past the high watermark, the
    watermark rides domainMetadata, and enabling twice is a no-op."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    df = _df(spark)
    t.write(df.limit(20).repartition(3))  # v0: 3 files
    v1 = t.enable_row_tracking()
    assert v1 == 1 and t.enable_row_tracking() == v1
    snap = t.snapshot()
    assert all(
        a.get("baseRowId") is not None for a in snap.files.values()
    )
    hwm = json.loads(snap.domain_metadata["delta.rowTracking"])
    assert hwm["rowIdHighWaterMark"] == 19
    assert t.changes(v1, v1).count() == 0  # backfill is dataChange=false
    ids = _ids(t)
    assert sorted(ids.values()) == list(range(20))

    t.write(df.limit(30).exceptAll(df.limit(20)), mode="append")
    ids2 = _ids(t)
    assert sorted(ids2.values()) == list(range(30))
    assert all(ids2[k] == i for k, i in ids.items()), "old ids stable"
    # plain reads never surface the hidden machinery
    assert t.read().columns == ["k", "v"]


def test_ids_stable_across_every_preserving_rewrite(spark, base):
    """The preservation contract: DV delete (trivially), copy-on-write
    DELETE and UPDATE, OPTIMIZE, OPTIMIZE ZORDER, and REORG PURGE all
    keep every surviving row's id; time travel reads ids as of the
    old version."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    df = _df(spark)
    t.write(df.limit(30).repartition(3))
    t.enable_row_tracking()
    ref = _ids(t)

    assert t.delete(F.col("v") < 6, use_dv=True)  # DV: files untouched
    assert t.delete(F.col("v") == 8)  # copy-on-write rewrite
    assert t.update(F.col("v") == 20, {"v": F.lit(999)})
    assert t.optimize(max_file_bytes=1 << 30)
    assert t.delete(F.col("v") == 30, use_dv=True)
    assert t.reorg_purge()
    assert t.optimize(zorder_by=["v"])

    got = _ids(t)
    gone = {"0", "1", "2", "4", "15"}
    assert set(got) == set(ref) - gone
    assert all(ref[k] == i for k, i in got.items()), "ids must not move"
    # the updated row kept its identity across the value change
    assert got["10"] == ref["10"]
    assert t.read().filter(F.col("k") == "10").collect()[0]["v"] == 999

    # time travel composes: as-of the enable version, all 30 ids
    v_enable = 1
    old = _ids(t, version=v_enable)
    assert old == ref


def test_watermark_survives_checkpoint_and_expiry(spark, base):
    """The domainMetadata high watermark must survive checkpoint
    consolidation + log expiry: post-expiry appends continue AFTER the
    watermark instead of reusing ids."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"), checkpoint_interval=2)
    df = _df(spark)
    t.write(df.limit(10))
    t.enable_row_tracking()
    t.write(df.limit(15).exceptAll(df.limit(10)), mode="append")
    t.checkpoint()
    assert t.expire_log()
    t.write(df.limit(18).exceptAll(df.limit(15)), mode="append")
    ids = _ids(t)
    assert sorted(ids.values()) == list(range(18))


@pytest.mark.parametrize("path", ["unset-then-set", "restore-across-enable"])
def test_re_enabled_tracking_continues_past_watermark(spark, base, path):
    """A metaData commit that turns row tracking back on follows one
    whose predecessor did not restate the watermark (the property was
    unset, or RESTORE went to a pre-enable version). The watermark
    still lives in the snapshot's domainMetadata, so later appends
    continue past it instead of restarting at row id 0."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    df = _df(spark)
    t.write(df.limit(10))  # v0
    t.enable_row_tracking()  # v1: ids 0..9
    if path == "unset-then-set":
        t.unset_table_property("delta.enableRowTracking")
        t.set_table_property("delta.enableRowTracking", "true")
        n = 10
    else:
        t.write(df.limit(15).exceptAll(df.limit(10)), mode="append")  # v2
        t.restore(0)  # metaData without row tracking
        t.restore(2)  # metaData with row tracking again
        n = 15
    t.write(df.limit(n + 3).exceptAll(df.limit(n)), mode="append")
    ids = list(_ids(t).values())
    assert len(ids) == n + 3
    assert len(set(ids)) == len(ids), "row ids never repeat"


def test_switched_off_tracking_stays_off_after_log_cleanup(spark, base):
    """With row tracking switched off, the watermark domain stays in
    the snapshot. When the predecessor JSON has been cleaned up, the
    snapshot's stand-in for it must not revive the feature: the next
    append carries no baseRowId and restates no watermark."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    df = _df(spark)
    t.write(df.limit(10))
    t.enable_row_tracking()
    v = t.unset_table_property("delta.enableRowTracking")
    t.checkpoint(v)
    t.expire_log()
    os.remove(t._version_file(v))  # a cleanup that keeps only the checkpoint
    nxt = t.write(df.limit(13).exceptAll(df.limit(10)), mode="append")
    actions = t._read_actions(nxt)
    assert all("baseRowId" not in a["add"] for a in actions if "add" in a)
    assert not any("domainMetadata" in a for a in actions)


def test_partitioned_table_ids(spark, base):
    """Row ids work on hive-partitioned tables (partition columns come
    from the path; the id comes from the file-local row index)."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    df = _df(spark, 30).withColumn(
        "bucket", (F.col("v") % 3).cast("string")
    )
    t.write(df, partition_by=["bucket"])
    t.enable_row_tracking()
    ids = _ids(t)
    assert sorted(ids.values()) == list(range(30))
    t.delete(F.col("bucket") == "0")  # whole-partition rewrite → removes
    got = _ids(t)
    assert all(ids[k] == i for k, i in got.items())
    assert len(got) == 20


def test_dv_update_and_merge_assign_fresh_ids(spark, base):
    """Pinned DEVIATION: DV-UPDATE and MERGE represent an update as
    delete+insert, so the rewritten rows get FRESH ids past the
    watermark (the real feature preserves them; the docstring says so
    loudly). Neighbors keep theirs."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    df = _df(spark)
    t.write(df.limit(20))
    t.enable_row_tracking()
    ref = _ids(t)
    t.update(F.col("k") == "3", {"v": F.lit(777)}, use_dv=True)
    got = _ids(t)
    assert got["3"] > max(ref.values()), "rewritten row: fresh id"
    neighbors = {k: i for k, i in got.items() if k != "3"}
    assert all(ref[k] == i for k, i in neighbors.items())


def test_guards(spark, base):
    """Refusals: with_row_ids on an untracked table; enabling on a
    shallow clone; enabling when a _row_id column already exists."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    t.write(_df(spark).limit(5))
    with pytest.raises(ValueError, match="row tracking is not enabled"):
        t.read(with_row_ids=True).collect()

    clone = t.clone(os.path.join(base, "c"))
    with pytest.raises(NotImplementedError, match="shallow clones"):
        clone.enable_row_tracking()

    t2 = MiniDeltaTable(spark, os.path.join(base, "t2"))
    t2.write(_df(spark).limit(5).withColumn("_row_id", F.lit(1)))
    with pytest.raises(SchemaMismatchError, match="reserves the _row_id"):
        t2.enable_row_tracking()


def test_random_operation_sequences_preserve_ids(spark, base):
    """Model-based sequence check: across seeded random interleavings
    of append / DV-delete / copy-on-write delete / UPDATE / OPTIMIZE /
    REORG PURGE, every surviving row's id equals the model's, deleted
    keys disappear, and ids never collide — the whole-feature
    invariant, not one path at a time."""
    import random

    for seed in (7, 23):
        rng = random.Random(seed)
        t = MiniDeltaTable(
            spark,
            os.path.join(base, f"seq{seed}"),
            checkpoint_interval=3,
        )
        df = _df(spark, 200)
        t.write(df.limit(30).repartition(3))
        t.enable_row_tracking()
        model = _ids(t)  # k -> id, maintained alongside the ops
        next_k = 30
        for _step in range(8):
            op = rng.choice(
                ["append", "dv_delete", "cow_delete", "update",
                 "optimize", "purge"]
            )
            if op == "append":
                n = rng.randint(1, 5)
                new_keys = {str(i) for i in range(next_k, next_k + n)}
                batch = df.filter(F.col("k").isin(sorted(new_keys)))
                prior_hwm = json.loads(
                    t.snapshot().domain_metadata["delta.rowTracking"]
                )["rowIdHighWaterMark"]
                t.write(batch, mode="append")
                got = _ids(t)
                # new rows: exactly the appended keys, with FRESH
                # (past the watermark), DENSE, collision-free ids —
                # which exact key got which id within the batch is a
                # file-layout detail the model absorbs, not predicts
                assert set(got) - set(model) == new_keys
                fresh = sorted(got[k] for k in new_keys)
                assert fresh[0] > prior_hwm
                assert fresh == list(range(fresh[0], fresh[0] + n))
                for k in new_keys:
                    model[k] = got[k]
                next_k += n
            elif op in ("dv_delete", "cow_delete"):
                if not model:
                    continue
                victims = rng.sample(sorted(model), min(3, len(model)))
                r = t.delete(
                    F.col("k").isin(victims), use_dv=(op == "dv_delete")
                )
                if r is not None:
                    for k in victims:
                        model.pop(k)
            elif op == "update":
                if not model:
                    continue
                k = rng.choice(sorted(model))
                t.update(F.col("k") == k, {"v": F.lit(-1)})
            elif op == "optimize":
                t.optimize(max_file_bytes=1 << 30)
            elif op == "purge":
                t.reorg_purge()
            got = _ids(t)
            assert got == model, f"seed {seed} diverged after {op}"
            assert len(set(got.values())) == len(got), "id collision"


def test_row_ids_compose_with_merge_schema_evolution(spark, base):
    """Feature interplay: a row-tracked table evolves via a
    merge-schema append — old rows' ids stay put (and read null for
    the appended column), new rows get fresh ids, and a post-evolution
    copy-on-write rewrite of PRE-evolution files still materializes
    ids while null-filling the appended column."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    df = _df(spark, 40)
    t.write(df.limit(20).repartition(2))
    t.enable_row_tracking()
    ref = _ids(t)

    batch = (
        df.limit(25)
        .exceptAll(df.limit(20))
        .withColumn("tag", F.lit("late"))
    )
    t.write(batch, mode="append", merge_schema=True)
    got = t.read(with_row_ids=True)
    assert set(got.columns) == {"k", "v", "tag", "_row_id"}
    by_k = {r["k"]: r for r in got.collect()}
    assert all(by_k[k]["_row_id"] == i for k, i in ref.items())
    assert all(by_k[k]["tag"] is None for k in ref)
    fresh = {k: r for k, r in by_k.items() if k not in ref}
    assert len(fresh) == 5
    assert all(r["tag"] == "late" for r in fresh.values())
    assert min(r["_row_id"] for r in fresh.values()) > max(ref.values())

    # rewrite an OLD file post-evolution: ids persist, tag stays null
    t.delete(F.col("v") == 2)  # copy-on-write, touches a v0-era file
    after = t.read(with_row_ids=True)
    by_k2 = {r["k"]: r for r in after.collect()}
    assert "1" not in by_k2
    survivors = {k: r for k, r in by_k2.items() if k in ref}
    assert all(r["_row_id"] == ref[k] for k, r in survivors.items())
    assert all(r["tag"] is None for r in survivors.values())

    # OPTIMIZE the mixed (tracked + evolved) layout: everything holds
    assert t.optimize(max_file_bytes=1 << 30)
    final = {r["k"]: r for r in t.read(with_row_ids=True).collect()}
    assert {k: r["_row_id"] for k, r in final.items()} == {
        k: r["_row_id"] for k, r in by_k2.items()
    }


def test_unrelated_domain_does_not_suppress_id_assignment(spark, base):
    """A commit carrying a domainMetadata action for some OTHER domain
    must still get baseRowId assignment + the delta.rowTracking
    watermark restated — only the row-tracking domain itself marks the
    commit as caller-managed (the enable path). Regression: the
    injector used to early-return on ANY domainMetadata, so a future
    caller with an unrelated domain would commit adds without
    baseRowId and read(with_row_ids=True) would raise."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    t.write(_df(spark).limit(10))
    t.enable_row_tracking()

    actions = [
        {
            "domainMetadata": {
                "domain": "some.other.domain",
                "configuration": json.dumps({"x": 1}),
                "removed": False,
            }
        },
        {
            "add": {
                "path": "part-synthetic.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
                "stats": json.dumps({"numRecords": 4}),
            }
        },
    ]
    t._inject_row_tracking(actions, t._predecessor(2))
    add = next(a["add"] for a in actions if "add" in a)
    assert add["baseRowId"] == 10, "fresh ids continue past the watermark"
    rt = [
        a["domainMetadata"]
        for a in actions
        if a.get("domainMetadata", {}).get("domain") == "delta.rowTracking"
    ]
    assert rt, "watermark domain restated despite the unrelated domain"
    assert json.loads(rt[0]["configuration"])["rowIdHighWaterMark"] == 13

    # the enable path's OWN domain still short-circuits (idempotence)
    managed = [
        {
            "domainMetadata": {
                "domain": "delta.rowTracking",
                "configuration": json.dumps({"rowIdHighWaterMark": 9}),
                "removed": False,
            }
        },
        {
            "add": {
                "path": "part-synthetic2.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
                "stats": json.dumps({"numRecords": 4}),
            }
        },
    ]
    t._inject_row_tracking(managed, t._predecessor(2))
    assert "baseRowId" not in managed[1]["add"]


def test_row_ids_stable_across_type_widening(spark, base):
    """Type widening composes with row tracking: ids assigned before
    the widening survive it (no rewrite happens), and the widened
    column reads wide alongside the ids."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    t.write(
        _df(spark).limit(20).withColumn("n", F.col("v").cast("int"))
    )
    t.enable_row_tracking()
    t.enable_type_widening()
    ref = _ids(t)
    t.write(
        _df(spark)
        .limit(25)
        .exceptAll(_df(spark).limit(20))
        .withColumn("n", F.col("v") + F.lit(5_000_000_000)),
        mode="append",
        merge_schema=True,
    )
    got = t.read(with_row_ids=True)
    assert dict(got.dtypes)["n"] == "bigint"
    by_k = {r["k"]: r for r in got.collect()}
    assert all(by_k[k]["_row_id"] == i for k, i in ref.items())
    fresh = [r for k, r in by_k.items() if k not in ref]
    assert len(fresh) == 5
    assert min(r["_row_id"] for r in fresh) > max(ref.values())
