"""Table Features (the public Delta protocol's reader/writer feature
lists at minReaderVersion 3 / minWriterVersion 7): upgrades enumerate
every feature in use, readers refuse unknown readerFeatures, writers
refuse unknown writerFeatures (while reads keep working), and the
lists survive checkpoint + expiry replay."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ecommerce_lakehouse_platform_spark.sources.deltalog import (
    MiniDeltaTable,
)

from .conftest import SF_SMOKE  # noqa: F401  (session fixtures)


@pytest.fixture()
def base_dir():
    d = tempfile.mkdtemp(prefix="tf_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 2).alias("v")
    )


def _table(spark, base_dir, name="t"):
    t = MiniDeltaTable(spark, os.path.join(base_dir, name))
    t.write(_df(spark, 0, 20).coalesce(1))
    return t


def _proto(t, version):
    return next(
        a["protocol"]
        for a in t._read_actions(version)
        if "protocol" in a
    )


def test_feature_enables_upgrade_cumulatively(spark, base_dir):
    """Each feature enable moves the table to 3/7 with CUMULATIVE
    lists; a later enable carries the union, and re-enabling emits no
    protocol action at all (idempotent — no restate)."""
    t = _table(spark, base_dir)
    snap0 = t.snapshot()
    assert (snap0.min_reader, snap0.min_writer) == (1, 2)
    assert snap0.reader_features == frozenset()

    v1 = t.enable_type_widening()
    p1 = _proto(t, v1)
    assert p1["minReaderVersion"] == 3 and p1["minWriterVersion"] == 7
    assert p1["readerFeatures"] == ["typeWidening"]
    assert p1["writerFeatures"] == ["typeWidening"]

    v2 = t.enable_in_commit_timestamps()
    p2 = _proto(t, v2)
    assert p2["readerFeatures"] == ["typeWidening"]
    assert sorted(p2["writerFeatures"]) == [
        "inCommitTimestamp",
        "typeWidening",
    ]

    # DV DML on the upgraded table adds deletionVectors to BOTH lists
    v3 = t.delete(F.col("k") == "3", use_dv=True)
    p3 = _proto(t, v3)
    assert sorted(p3["readerFeatures"]) == [
        "deletionVectors",
        "typeWidening",
    ]
    assert "inCommitTimestamp" in p3["writerFeatures"]

    # a second DV delete finds everything listed: NO protocol restate
    v4 = t.delete(F.col("k") == "5", use_dv=True)
    assert not any("protocol" in a for a in t._read_actions(v4))

    snap = t.snapshot()
    assert snap.reader_features == frozenset(
        {"deletionVectors", "typeWidening"}
    )
    assert "domainMetadata" not in snap.writer_features


def test_legacy_features_enumerated_on_first_upgrade(spark, base_dir):
    """A table using legacy-version features (CHECK constraints,
    generated columns) upgrading to 3/7 must enumerate them — the
    protocol requires a v7 action to list EVERY feature in use."""
    t = _table(spark, base_dir)
    t.set_constraint("vnn", "v IS NOT NULL")
    t.write(
        _df(spark, 0, 20).withColumn("k2", F.concat("k", F.lit("!")))
        .coalesce(1),
        overwrite_schema=True,
    )
    t.set_generated_column("k2", "concat(k, '!')")
    v = t.enable_type_widening()
    p = _proto(t, v)
    assert "checkConstraints" in p["writerFeatures"]
    assert "generatedColumns" in p["writerFeatures"]
    assert "typeWidening" in p["readerFeatures"]


def test_unknown_reader_feature_refused_loudly(spark, base_dir):
    """Forward-compat at FEATURE granularity: an unrecognized reader
    feature means this reader would misinterpret the data — refuse,
    never misread. Time travel to the pre-upgrade version works."""
    t = _table(spark, base_dir)
    t._commit(1, [
        {"commitInfo": {"operation": "UPGRADE"}},
        {"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["futureColumnarCompression"],
            "writerFeatures": ["futureColumnarCompression"],
        }},
    ])
    with pytest.raises(NotImplementedError, match="futureColumnar"):
        t.read()
    assert t.read(version=0).count() == 20


def test_unknown_writer_feature_blocks_writes_not_reads(spark, base_dir):
    """The write-side half: a writer that does not understand a
    writerFeature would corrupt the invariants it maintains — every
    mutation path refuses; reading the table stays allowed (the
    feature is writer-only from this reader's perspective)."""
    t = _table(spark, base_dir)
    t._commit(1, [
        {"commitInfo": {"operation": "UPGRADE"}},
        {"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": [],
            "writerFeatures": ["futureConstraintDialect"],
        }},
    ])
    assert t.read().count() == 20  # reads fine
    with pytest.raises(NotImplementedError, match="futureConstraint"):
        t.write(_df(spark, 20, 25), mode="append")
    with pytest.raises(NotImplementedError, match="futureConstraint"):
        t.delete(F.col("k") == "3")
    with pytest.raises(NotImplementedError, match="futureConstraint"):
        t.set_constraint("vnn", "v IS NOT NULL")
    assert t.read().count() == 20  # nothing landed


def test_feature_lists_survive_checkpoint_and_expiry(spark, base_dir):
    """The lists ride checkpoint replay: checkpoint, expire the JSON
    history, and a FRESH handle still sees the features (a dropped
    list would silently lift the reader/writer gates)."""
    t = _table(spark, base_dir)
    t.enable_type_widening()
    t.delete(F.col("k") == "3", use_dv=True)
    t.checkpoint()
    t.expire_log()
    fresh = MiniDeltaTable(spark, t.path)
    snap = fresh.snapshot()
    assert snap.reader_features == frozenset(
        {"deletionVectors", "typeWidening"}
    )
    assert "typeWidening" in snap.writer_features
    assert fresh.read().count() == 19
    detail = fresh.detail()
    assert "deletionVectors" in detail["readerFeatures"]


def test_table_id_is_stable_across_metadata_commits(spark, base_dir):
    """``metaData.id`` names the table for its whole life: property,
    constraint, schema-overwrite, column-mapping and RESTORE commits
    restate the v0 id, and so do the checkpoint and the first commit
    after log expiry; only CLONE, which creates a table, mints one."""
    import pyarrow.parquet as pq

    t = _table(spark, base_dir)  # v0
    t.set_table_property("owner", "ops")  # v1
    t.set_constraint("nonneg", "v >= 0")  # v2
    t.write(
        _df(spark, 0, 5).withColumn("w", F.lit(1)).coalesce(1),
        mode="overwrite",
        overwrite_schema=True,
    )  # v3
    t.enable_column_mapping()  # v4
    t.restore(0)  # v5

    def ids(version):
        return [
            a["metaData"]["id"]
            for a in t._read_actions(version)
            if "metaData" in a
        ]

    (first,) = ids(0)
    assert [ids(v) for v in t.versions()] == [[first]] * 6
    v = t.checkpoint()
    rows = pq.read_table(t._checkpoint_path(v)).to_pylist()
    assert [r["metaData"]["id"] for r in rows if r["metaData"]] == [first]
    assert t.expire_log() == [0, 1, 2, 3, 4]
    v = t.set_table_property("owner", "eng")  # v6
    assert ids(v) == [first]
    assert MiniDeltaTable(spark, t.path).snapshot().table_id == first

    clone = t.clone(os.path.join(base_dir, "clone"))
    assert clone.snapshot().table_id not in (None, first)


@pytest.mark.parametrize(
    "prepare, gates, features",
    [
        # legacy column mapping: reader 2 / writer 5, no feature lists
        (lambda t: t.enable_column_mapping(), (2, 5), None),
        # live deletion vectors: table-feature versions listing them
        (
            lambda t: t.delete(F.col("k") == "3", use_dv=True),
            (3, 7),
            "deletionVectors",
        ),
        (lambda t: None, (1, 2), None),
    ],
    ids=["legacy_column_mapping", "deletion_vectors", "plain"],
)
def test_clone_keeps_source_protocol(
    spark, base_dir, prepare, gates, features
):
    """CLONE restates the source's protocol as replayed: a protocol-
    following reader of the clone must apply the same gates as on the
    source (a downgraded column-mapped clone would be read by its
    physical names)."""
    t = _table(spark, base_dir)
    prepare(t)
    clone = t.clone(os.path.join(base_dir, "clone"))
    snap = clone.snapshot()
    assert (snap.min_reader, snap.min_writer) == gates
    proto = _proto(clone, 0)
    if features is None:
        assert "readerFeatures" not in proto
        assert "writerFeatures" not in proto
    else:
        assert features in snap.reader_features
        assert features in snap.writer_features
        assert features in proto["readerFeatures"]
        assert features in proto["writerFeatures"]
    assert snap.configuration == t.snapshot().configuration
    assert sorted(clone.read().collect()) == sorted(t.read().collect())


def test_append_only_property_enforced(spark, base_dir):
    """``delta.appendOnly=true`` (the protocol's append-only property):
    appends and OPTIMIZE keep working; overwrite, DELETE (both
    copy-on-write and DV), UPDATE, and MERGE refuse loudly; the
    property joins the writerFeatures enumeration on a later 3/7
    upgrade; UNSET restores mutability."""
    t = _table(spark, base_dir)
    t.set_table_property("delta.appendOnly", "true")
    t.write(_df(spark, 20, 30).coalesce(1), mode="append")  # allowed
    assert t.read().count() == 30
    assert t.optimize() is not None  # dataChange=false: allowed
    with pytest.raises(ValueError, match="appendOnly"):
        t.write(_df(spark, 0, 5), mode="overwrite")
    with pytest.raises(ValueError, match="appendOnly"):
        t.delete(F.col("k") == "3")
    with pytest.raises(ValueError, match="appendOnly"):
        t.delete(F.col("k") == "3", use_dv=True)
    with pytest.raises(ValueError, match="appendOnly"):
        t.update(F.col("k") == "3", {"v": F.lit(0)})
    with pytest.raises(ValueError, match="appendOnly"):
        t.merge(_df(spark, 0, 2), keys=["k"])
    assert t.read().count() == 30  # nothing mutated

    # the property is enumerated on the next table-feature upgrade
    v = t.enable_type_widening()
    assert "appendOnly" in _proto(t, v)["writerFeatures"]

    assert t.unset_table_property("delta.appendOnly") is not None
    assert t.delete(F.col("k") == "3") is not None
    assert t.read().count() == 29
    assert t.unset_table_property("delta.appendOnly") is None  # gone


def test_append_only_enumerated_when_already_at_3_7(spark, base_dir):
    """r13 (ADVICE): setting ``delta.appendOnly=true`` on a table
    ALREADY at reader 3 / writer 7 must enumerate ``appendOnly`` in
    writerFeatures on THAT commit — the protocol requires a v7
    table's list to name every feature in use, and an external
    feature-honoring writer that doesn't see it would keep deleting.
    (On a legacy-version table the property is writer-2 legacy and
    joins the list on the next upgrade — the other test.) Idempotent:
    re-setting emits no protocol restate."""
    t = _table(spark, base_dir)
    t.enable_type_widening()  # moves the table to 3/7 first
    v = t.set_table_property("delta.appendOnly", "true")
    p = _proto(t, v)
    assert "appendOnly" in p["writerFeatures"]
    assert "typeWidening" in p["writerFeatures"]  # cumulative
    snap = t.snapshot()
    assert "appendOnly" in snap.writer_features
    # re-set: config commit, but NO protocol action (no-op restate
    # would make concurrent losers raise ProtocolChangedError)
    v2 = t.set_table_property("delta.appendOnly", "true")
    assert not any("protocol" in a for a in t._read_actions(v2))


def test_restore_honors_append_only_and_writer_features(spark, base_dir):
    """r13 (ADVICE): RESTORE is a write — it must refuse to remove
    rows from a ``delta.appendOnly=true`` table (it rolls back PAST
    committed appends) and must refuse entirely under unknown
    writerFeatures (it commits via _commit directly, bypassing the
    write() guard)."""
    t = _table(spark, base_dir)  # v0: 20 rows
    t.write(_df(spark, 20, 30).coalesce(1), mode="append")  # v1
    t.set_table_property("delta.appendOnly", "true")  # v2
    with pytest.raises(ValueError, match="appendOnly"):
        t.restore(0)  # would remove v1's appended rows
    assert t.read().count() == 30  # nothing landed
    # a restore that removes NO files (metadata-only rollback target
    # = superset of current files) stays allowed: restoring to v1
    # removes nothing (v2 was a pure property commit)
    assert t.restore(1) is not None
    assert t.read().count() == 30

    t2 = _table(spark, base_dir, name="t2")
    t2.write(_df(spark, 20, 25).coalesce(1), mode="append")
    t2._commit(2, [
        {"commitInfo": {"operation": "UPGRADE"}},
        {"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": [],
            "writerFeatures": ["futureConstraintDialect"],
        }},
    ])
    with pytest.raises(NotImplementedError, match="futureConstraint"):
        t2.restore(0)
    assert t2.read().count() == 25  # reads fine, nothing mutated
