"""Optimistic concurrency control (sources/deltalog.py): lost
put-if-absent races resolve with the public Delta protocol's conflict
rules — rebase when the winner is logically disjoint, raise the
matching typed conflict when it is not, under both isolation levels
(write_serializable default, serializable strict).

Races are simulated deterministically by wrapping ``_commit`` to let
a rival land the contested version first — the loser's commit then
hits the put-if-absent failure exactly as a real concurrent writer
would.
"""

from __future__ import annotations

import ast
import os
import pathlib
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

import ecommerce_lakehouse_platform_spark
from ecommerce_lakehouse_platform_spark.sources.deltalog import (
    ConcurrentAppendError,
    ConcurrentDeleteDeleteError,
    ConcurrentDeleteReadError,
    ConcurrentTransactionError,
    ConstraintViolationError,
    MetadataChangedError,
    MiniDeltaTable,
)


@pytest.fixture()
def base(spark):
    d = tempfile.mkdtemp(prefix="occ_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 2).alias("v")
    )


def _race(t, rival_move):
    """Arrange for ``rival_move()`` to commit first: the next _commit
    call on ``t`` fires it once, then proceeds (and loses)."""
    orig = t._commit
    state = {"fired": False}

    def racing(version, actions):
        if not state["fired"]:
            state["fired"] = True
            rival_move()
        orig(version, actions)

    t._commit = racing


def _two_file_table(spark, base):
    """v0 holds keys 0..19 in file A, v1 holds keys 20..39 in file B —
    disjoint files with known contents, so predicates map to files."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    t.write(_df(spark, 0, 20).coalesce(1))
    t.write(_df(spark, 20, 40).coalesce(1), mode="append")
    return t


def test_dml_rebases_past_disjoint_append(spark, base):
    """DELETE losing to a blind append rebases (write_serializable
    admits appends against DML — the protocol's documented anomaly);
    both effects land in consecutive versions."""
    t = _two_file_table(spark, base)
    rival = MiniDeltaTable(spark, t.path)
    _race(t, lambda: rival.write(_df(spark, 100, 105), mode="append"))
    v = t.delete(F.col("k") == "3")
    assert v == 3  # rebased past the rival's v2
    got = t.read()
    assert got.count() == 44  # 40 - 1 + 5
    assert got.filter(F.col("k") == "3").count() == 0
    assert got.filter(F.col("k") == "100").count() == 1


def test_dml_append_conflicts_under_serializable(spark, base):
    """The same race under isolation='serializable' surfaces
    ConcurrentAppendError: the appended rows could have matched the
    predicate this transaction read."""
    t = _two_file_table(spark, base)
    rival = MiniDeltaTable(spark, t.path)
    _race(t, lambda: rival.write(_df(spark, 100, 105), mode="append"))
    with pytest.raises(ConcurrentAppendError):
        t.delete(F.col("k") == "3", isolation="serializable")
    # nothing committed by the loser
    assert t.read().count() == 45
    assert t.read().filter(F.col("k") == "3").count() == 1


def test_delete_delete_conflict_same_file(spark, base):
    """Two DELETEs whose touched-file sets intersect: the loser gets
    ConcurrentDeleteDeleteError, never a silent double-remove."""
    t = _two_file_table(spark, base)
    rival = MiniDeltaTable(spark, t.path)
    _race(t, lambda: rival.delete(F.col("k") == "5"))  # same file A
    with pytest.raises(ConcurrentDeleteDeleteError):
        t.delete(F.col("k") == "3")
    assert t.read().filter(F.col("k") == "5").count() == 0  # winner's
    assert t.read().filter(F.col("k") == "3").count() == 1  # loser's not


def test_delete_rebases_past_disjoint_delete(spark, base):
    """DELETEs touching DISJOINT files compose: the loser rebases and
    both deletes land."""
    t = _two_file_table(spark, base)
    rival = MiniDeltaTable(spark, t.path)
    _race(t, lambda: rival.delete(F.col("k") == "25"))  # file B only
    v = t.delete(F.col("k") == "3")  # file A only
    assert v == 3
    got = t.read()
    assert got.count() == 38
    assert got.filter(F.col("k").isin("3", "25")).count() == 0


def test_metadata_change_conflicts_dml(spark, base):
    """A winner that changes table metadata (here: adding a CHECK
    constraint — config-only, no protocol action) invalidates any
    in-flight DML plan: MetadataChangedError. A winner that enables a
    TABLE FEATURE (type widening) now also upgrades the protocol
    (r12), so the loser surfaces the stronger ProtocolChangedError."""
    t = _two_file_table(spark, base)
    rival = MiniDeltaTable(spark, t.path)
    _race(t, lambda: rival.set_constraint("vnn", "v IS NOT NULL"))
    with pytest.raises(MetadataChangedError):
        t.delete(F.col("k") == "3")

    from ecommerce_lakehouse_platform_spark.sources.deltalog import (
        ProtocolChangedError,
    )

    t2 = _two_file_table(spark, os.path.join(base, "b"))
    rival2 = MiniDeltaTable(spark, t2.path)
    _race(t2, lambda: rival2.enable_type_widening())
    with pytest.raises(ProtocolChangedError):
        t2.delete(F.col("k") == "3")


def test_dv_delete_conflict_and_rebase(spark, base):
    """Deletion-vector DML obeys the same matrix: a DV delete whose
    touched file the winner also touched conflicts (the DV's position
    list is against a file that no longer exists as read); DV deletes
    over disjoint files rebase."""
    t = _two_file_table(spark, base)
    rival = MiniDeltaTable(spark, t.path)
    _race(t, lambda: rival.delete(F.col("k") == "5"))  # rewrites file A
    with pytest.raises(
        (ConcurrentDeleteDeleteError, ConcurrentDeleteReadError)
    ):
        t.delete(F.col("k") == "3", use_dv=True)  # DV against file A

    t2 = _two_file_table(spark, os.path.join(base, "b"))
    rival2 = MiniDeltaTable(spark, t2.path)
    _race(t2, lambda: rival2.delete(F.col("k") == "25"))  # file B
    v = t2.delete(F.col("k") == "3", use_dv=True)  # DV on file A
    assert v == 3
    got = t2.read()
    assert got.count() == 38
    assert got.filter(F.col("k").isin("3", "25")).count() == 0


def test_dml_rebases_past_disjoint_dv_winner(spark, base):
    """A DV-based winner on an ALREADY reader-3/writer-7 table must
    not block disjoint losers: the first DV delete upgrades the
    protocol once; later DV commits emit NO protocol action (nothing
    to upgrade), so a logically disjoint copy-on-write DELETE losing
    the race REBASES per the conflict matrix instead of raising a
    spurious ProtocolChangedError."""
    t = _two_file_table(spark, base)
    assert t.delete(F.col("k") == "0", use_dv=True) == 2  # → 3/7
    rival = MiniDeltaTable(spark, t.path)
    _race(t, lambda: rival.delete(F.col("k") == "25", use_dv=True))  # B
    v = t.delete(F.col("k") == "3")  # copy-on-write, file A only
    assert v == 4  # rebased past the rival's v3
    # the already-upgraded rival restated no protocol action
    assert not any("protocol" in a for a in t._read_actions(3))
    got = t.read()
    assert got.count() == 37
    assert got.filter(F.col("k").isin("0", "3", "25")).count() == 0


def test_foreign_protocol_restate_rebases_but_upgrade_raises(spark, base):
    """Belt to the emit-only-on-upgrade braces: a FOREIGN writer that
    restates the exact protocol gates the loser's snapshot already
    held does not invalidate anything — the disjoint loser still
    rebases; an actual upgrade keeps raising ProtocolChangedError."""
    from ecommerce_lakehouse_platform_spark.sources.deltalog import (
        ProtocolChangedError,
    )
    import json as _json

    t = _two_file_table(spark, base)
    assert t.delete(F.col("k") == "0", use_dv=True) == 2  # → 3/7
    rival = MiniDeltaTable(spark, t.path)

    def append_with_restate():
        v = rival.write(_df(spark, 100, 103), mode="append")
        path = rival._version_file(v)
        with open(path, "a", encoding="utf-8") as fh:
            fh.write(
                _json.dumps(
                    {
                        "protocol": {
                            "minReaderVersion": 3,
                            "minWriterVersion": 7,
                            # must restate the FEATURE LISTS too —
                            # a lists-dropping "restate" is a real
                            # protocol change and still conflicts
                            "readerFeatures": ["deletionVectors"],
                            "writerFeatures": ["deletionVectors"],
                        }
                    },
                    separators=(",", ":"),
                )
                + "\n"
            )

    _race(t, append_with_restate)
    v = t.delete(F.col("k") == "3")
    assert v == 4  # rebased past the restating winner
    assert t.read().count() == 41  # 40 - 1(dv) + 3 - 1

    # a GENUINE upgrade still conflicts, even when file-disjoint:
    # first-DV-delete winner moves 1/2 → 3/7 under the loser
    t2 = _two_file_table(spark, os.path.join(base, "b"))
    rival2 = MiniDeltaTable(spark, t2.path)
    _race(t2, lambda: rival2.delete(F.col("k") == "25", use_dv=True))
    with pytest.raises(ProtocolChangedError):
        t2.delete(F.col("k") == "3")  # file A only — still raises


def test_optimize_rebases_past_append(spark, base):
    """Compaction losing to an append rebases; the appended file is
    untouched and stays active alongside the compacted layout."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    t.write(_df(spark, 0, 30).repartition(4))
    rival = MiniDeltaTable(spark, t.path)
    _race(t, lambda: rival.write(_df(spark, 100, 110), mode="append"))
    v = t.optimize(max_file_bytes=1 << 30)
    assert v == 2  # rebased past the rival's v1
    got = t.read()
    assert got.count() == 40
    assert got.filter(F.col("k") == "105").count() == 1


def test_optimize_conflicts_when_source_compacted_away(spark, base):
    """Two overlapping compactions: the loser's source files are gone
    — typed conflict, not a corrupt double-compaction."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    t.write(_df(spark, 0, 30).repartition(4))
    rival = MiniDeltaTable(spark, t.path)
    _race(t, lambda: rival.optimize(max_file_bytes=1 << 30))
    with pytest.raises(
        (ConcurrentDeleteDeleteError, ConcurrentDeleteReadError)
    ):
        t.optimize(max_file_bytes=1 << 30)
    assert t.read().count() == 30  # winner's layout intact


def test_txn_ledger_conflict_on_append(spark, base):
    """An idempotent-sink append (txn action) losing to a winner that
    advanced the SAME app id's ledger must surface
    ConcurrentTransactionError — rebasing would double-apply the
    batch the winner already recorded."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    t.write(_df(spark, 0, 10))
    rival = MiniDeltaTable(spark, t.path)
    _race(
        t,
        lambda: rival.write(
            _df(spark, 50, 55), mode="append", txn=("sink-app", 7)
        ),
    )
    with pytest.raises(ConcurrentTransactionError):
        t.write(_df(spark, 60, 65), mode="append", txn=("sink-app", 7))
    # a DIFFERENT app id rebases fine
    t2 = MiniDeltaTable(spark, t.path)
    _race(
        t2,
        lambda: rival.write(
            _df(spark, 70, 75), mode="append", txn=("sink-app", 8)
        ),
    )
    v = t2.write(_df(spark, 80, 85), mode="append", txn=("other-app", 1))
    assert v == t2.snapshot().version
    assert t2.read().count() == 25


def test_row_ids_unique_across_racing_tracked_appends(spark, base):
    """A rebased append on a row-tracked table recomputes its row-id
    assignment against the WINNER's high watermark (each retry
    re-injects from a pristine action list) — ids never overlap."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    t.write(_df(spark, 0, 10))
    t.enable_row_tracking()
    rival = MiniDeltaTable(spark, t.path)
    _race(t, lambda: rival.write(_df(spark, 20, 30), mode="append"))
    t.write(_df(spark, 40, 50), mode="append")
    got = t.read(with_row_ids=True)
    ids = [r["_row_id"] for r in got.collect()]
    assert len(ids) == 30
    assert sorted(ids) == list(range(30)), "dense, no overlap"


@pytest.mark.parametrize(
    "rival_move, replace_where",
    [
        pytest.param(
            lambda r: r.set_constraint("vpos", "v >= 0"),
            None,
            id="append-vs-constraint",
        ),
        pytest.param(
            lambda r: r.set_generated_column("v", "CAST(k AS BIGINT) * 2"),
            None,
            id="append-vs-generated-column",
        ),
        pytest.param(
            lambda r: r.set_table_property("delta.appendOnly", "true"),
            {"p": 0},
            id="replace-where-vs-append-only",
        ),
    ],
)
def test_metadata_winner_conflicts_every_writer(
    spark, base, rival_move, replace_where
):
    """write() resolves a lost race with the same rules as DML: a
    winner that commits metaData — a CHECK constraint, a generated
    column, delta.appendOnly — forbids what the loser was about to
    commit, so a blind append or a replace_where overwrite losing to
    it raises MetadataChangedError instead of rebasing past it, and
    the loser commits nothing."""
    t = MiniDeltaTable(spark, os.path.join(base, "t"))
    t.write(
        _df(spark, 0, 20).withColumn("p", F.col("k").cast("int") % 2),
        partition_by=["p"],
    )
    rival = MiniDeltaTable(spark, t.path)
    _race(t, lambda: rival_move(rival))
    bad = _df(spark, 100, 105).select(
        "k", F.lit(-1).cast("long").alias("v"), F.lit(0).alias("p")
    )
    with pytest.raises(MetadataChangedError):
        if replace_where is None:
            t.write(bad, mode="append")
        else:
            t.write(bad, replace_where=replace_where)
    assert t.snapshot().version == 1  # only the rival's commit landed
    got = t.read()
    assert got.count() == 20
    assert got.filter(F.col("v") < 0).count() == 0


@pytest.mark.parametrize("writer", ["append", "dv_delete"])
def test_vacuum_with_retention_spares_a_staged_commit(spark, base, writer):
    """A VACUUM with a retention window that runs between a writer's
    staging and its commit leaves the staged data files and deletion
    vector sidecars alone (they are younger than the window), so the
    commit that then references them reads back."""
    t = _two_file_table(spark, base)
    orig = t._commit_resolving

    def vacuum_first(*args, **kwargs):
        MiniDeltaTable(spark, t.path).vacuum(retention_ms=7 * 86_400_000)
        return orig(*args, **kwargs)

    t._commit_resolving = vacuum_first
    if writer == "append":
        t.write(_df(spark, 100, 105).coalesce(2), mode="append")
        expected = 45
    else:
        t.delete(F.col("k") == "3", use_dv=True)
        expected = 39
    assert t.read().count() == expected


def _unlogged(t):
    """Data files and ``_dv/`` sidecars under the table root that no
    logged version adds, plus any leftover staging dir."""
    logged = set()
    for v in t.versions():
        for a in t._read_actions(v):
            add = a.get("add") or {}
            logged.add(add.get("path"))
            logged.add((add.get("deletionVector") or {}).get("storagePath"))
    found = set()
    for root, dirs, names in os.walk(t.path):
        dirs[:] = [d for d in dirs if d != "_delta_log"]
        rel = os.path.relpath(root, t.path)
        if ".staging-" in rel:
            found.add(rel)
        for name in names:
            if name.endswith(".parquet"):
                path = os.path.normpath(os.path.join(rel, name))
                if path.startswith("_dv/"):
                    path = "/".join(path.split("/")[:2])  # the sidecar
                found.add(path)
    return found - logged


@pytest.mark.parametrize("failure", ["task_error", "check"])
def test_failed_write_leaves_no_staging_dir(spark, base, failure):
    """A write whose job fails inside a task leaves no staging dir and
    no file in the table root: a refused CHECK surfaces as
    ConstraintViolationError, any other task error unchanged."""
    t = _two_file_table(spark, base)
    if failure == "check":
        t.set_constraint("vpos", "v >= 0")
        bad_v = F.lit(-1).cast("long")
    else:
        bad_v = F.when(
            F.col("k") == "51", F.raise_error(F.lit("boom"))
        ).otherwise(F.col("v"))
    with pytest.raises(Exception) as exc:
        t.write(
            _df(spark, 50, 52).withColumn("v", bad_v).coalesce(1),
            mode="append",
        )
    if failure == "check":
        assert isinstance(exc.value, ConstraintViolationError)
        assert "vpos" in str(exc.value)
    else:
        assert not isinstance(exc.value, ConstraintViolationError)
        assert "boom" in str(exc.value)
    assert t.snapshot().version == (2 if failure == "check" else 1)
    assert _unlogged(t) == set()


@pytest.mark.parametrize("writer", ["append", "dv_update"])
def test_conflict_loser_deletes_what_it_staged(spark, base, writer):
    """A writer that loses with a typed conflict deletes the data
    files (and the deletion-vector sidecar) it staged for the commit
    it could not make; the winner's commit is untouched."""
    t = _two_file_table(spark, base)
    rival = MiniDeltaTable(spark, t.path)
    if writer == "append":
        _race(t, lambda: rival.write(
            _df(spark, 0, 5).withColumn("flag", F.lit(True)),
            overwrite_schema=True,
        ))
        with pytest.raises(MetadataChangedError):
            t.write(_df(spark, 100, 105).coalesce(2), mode="append")
        expected = 5
    else:
        _race(t, lambda: rival.delete(F.col("k") == "3"))
        with pytest.raises(ConcurrentDeleteDeleteError):
            t.update(F.col("k") == "4", {"v": F.lit(9)}, use_dv=True)
        expected = 39
    assert t.snapshot().version == 2  # only the rival's commit landed
    assert _unlogged(t) == set()
    assert t.read().count() == expected


@pytest.mark.parametrize("case", ["refused", "no_match"])
def test_dv_update_that_commits_nothing_leaves_nothing(spark, base, case):
    """A DV UPDATE that commits nothing leaves nothing under the root:
    one refused by a CHECK constraint stages its new rows before it
    writes the deletion-vector sidecar, and one that matches no row
    deletes the zero-row file its empty replacement staged."""
    t = _two_file_table(spark, base)
    t.set_constraint("vpos", "v >= 0")
    if case == "refused":
        with pytest.raises(ConstraintViolationError):
            t.update(F.col("k") == "4", {"v": F.lit(-9)}, use_dv=True)
    else:
        assert t.update(F.col("k") == "x", {"v": F.lit(9)}, use_dv=True) is None
    assert t.snapshot().version == 2
    assert not os.path.exists(os.path.join(t.path, "_dv"))
    assert _unlogged(t) == set()


def test_one_commit_path():
    """Every commit goes through the conflict resolver: the raw
    put-if-absent ``_commit`` is called only inside
    ``_commit_resolving``, which also builds the only ``commitInfo``;
    ``metaData`` dicts are built only by ``_base._metadata_action``
    (checkpoint rows are state actions too). Pure AST scan of the
    package source."""
    builders = {
        "commitInfo": {"_commit_resolving"},
        "metaData": {"_metadata_action"},
    }
    stray: list[str] = []
    resolver_calls = 0

    class Scan(ast.NodeVisitor):
        def __init__(self, where):
            self.where, self.funcs = where, []

        def visit_FunctionDef(self, node):
            self.funcs.append(node.name)
            self.generic_visit(node)
            self.funcs.pop()

        def visit_Call(self, node):
            nonlocal resolver_calls
            if isinstance(node.func, ast.Attribute) and (
                node.func.attr == "_commit"
            ):
                if "_commit_resolving" in self.funcs:
                    resolver_calls += 1
                else:
                    stray.append(f"{self.where}:{node.lineno} _commit(")
            self.generic_visit(node)

        def visit_Dict(self, node):
            for key, value in zip(node.keys, node.values):
                name = getattr(key, "value", None)
                if (
                    name in builders
                    and isinstance(value, ast.Dict)
                    and not builders[name] & set(self.funcs)
                ):
                    stray.append(f"{self.where}:{node.lineno} {name!r}")
            self.generic_visit(node)

    root = pathlib.Path(ecommerce_lakehouse_platform_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        Scan(path.relative_to(root)).visit(ast.parse(path.read_text()))
    assert resolver_calls == 1
    assert not stray, stray


def test_one_write_stage():
    """Every writer stages through ``_stage``, which checks the table's
    invariants inside the write job: ``_stage_data_files`` is called
    and ``raise_error`` is named only inside ``_stage``, and no
    separate ``_enforce_*`` check job remains. Pure AST scan of the
    package source."""
    stray: list[str] = []
    stage_calls = 0

    class Scan(ast.NodeVisitor):
        def __init__(self, where, deltalog):
            self.where, self.deltalog, self.funcs = where, deltalog, []

        def visit_FunctionDef(self, node):
            if node.name.startswith("_enforce_"):
                stray.append(f"{self.where}:{node.lineno} {node.name}")
            self.funcs.append(node.name)
            self.generic_visit(node)
            self.funcs.pop()

        def visit_Attribute(self, node):
            self.named(node, node.attr)

        def visit_Name(self, node):
            self.named(node, node.id)

        def named(self, node, name):
            nonlocal stage_calls
            inside = "_stage" in self.funcs
            if name == "_stage_data_files" and isinstance(
                node.ctx, ast.Load
            ):
                if inside:
                    stage_calls += 1
                else:
                    stray.append(f"{self.where}:{node.lineno} {name}")
            if (
                name.startswith("_enforce_")
                or (name == "raise_error" and self.deltalog and not inside)
            ):
                stray.append(f"{self.where}:{node.lineno} {name}")
            self.generic_visit(node)

    root = pathlib.Path(ecommerce_lakehouse_platform_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        deltalog = rel.parts[:2] == ("sources", "deltalog")
        Scan(rel, deltalog).visit(ast.parse(path.read_text()))
    assert stage_calls == 1
    assert not stray, stray


def test_one_replay_of_the_log():
    """Table state comes from one replay: ``_read_checkpoint`` is
    called only inside ``_CoreMixin.snapshot`` (a checkpoint is that
    snapshot serialized), and a ``metaData`` id is minted from
    ``uuid`` only on the table-creating paths, ``write`` (version 0)
    and ``clone``; every other ``_metadata_action`` restates a
    snapshot's ``table_id``. Pure AST scan of the deltalog source."""
    creating = {"write", "clone"}
    stray: list[str] = []
    minted: set[str] = set()

    def mentions_uuid(node):
        return any(getattr(n, "id", None) == "uuid" for n in ast.walk(node))

    class Scan(ast.NodeVisitor):
        def __init__(self, where):
            self.where, self.scope = where, []

        def visit_ClassDef(self, node):
            self.scope.append(node.name)
            if node.name == "_metadata_action" and mentions_uuid(node):
                stray.append(f"{self.where}: _metadata_action mints an id")
            self.generic_visit(node)
            self.scope.pop()

        visit_FunctionDef = visit_ClassDef

        def visit_Call(self, node):
            name = getattr(node.func, "attr", getattr(node.func, "id", None))
            at = f"{self.where}:{node.lineno} in {self.scope}"
            if name == "_read_checkpoint" and self.scope != [
                "_CoreMixin",
                "snapshot",
            ]:
                stray.append(f"{at}: _read_checkpoint(")
            if name == "_metadata_action":
                table_id = node.args[0]
                if mentions_uuid(table_id) and self.scope[-1] in creating:
                    minted.add(self.scope[-1])
                elif getattr(table_id, "attr", None) != "table_id":
                    stray.append(f"{at}: metaData id not restated")
            self.generic_visit(node)

    root = pathlib.Path(ecommerce_lakehouse_platform_spark.__file__).parent
    for path in sorted((root / "sources" / "deltalog").glob("*.py")):
        Scan(path.relative_to(root)).visit(ast.parse(path.read_text()))
    assert minted == creating
    assert not stray, stray


def test_one_scan_of_a_snapshots_files():
    """Data files are read by one scan: every ``spark.read``, every
    ``_reader(`` call and every ``"left_anti"`` join under the deltalog
    package sits inside ``_ReadMixin._scan``, which applies deletion
    vectors, column defaults and row ids once for every caller. Two
    reads are not table scans and are listed: the identity-watermark
    aggregate over one staged file in ``write``, and the DV commit's
    cardinality readback of the sidecar it just wrote. Pure AST scan
    of the deltalog source."""
    allowed = {"write", "_dv_commit_inner"}
    stray: list[str] = []
    seen: list[str] = []

    class Scan(ast.NodeVisitor):
        def __init__(self, where):
            self.where, self.scope = where, []

        def visit_ClassDef(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        visit_FunctionDef = visit_ClassDef

        def hit(self, node, what):
            if self.scope[:2] == ["_ReadMixin", "_scan"]:
                return
            if what == "spark.read" and self.scope[-1] in allowed:
                seen.append(self.scope[-1])
                return
            stray.append(f"{self.where}:{node.lineno} {what} in {self.scope}")

        def visit_Attribute(self, node):
            if node.attr == "read" and (
                getattr(node.value, "attr", None) == "spark"
                or getattr(node.value, "id", None) == "spark"
            ):
                self.hit(node, "spark.read")
            if node.attr == "_reader":
                self.hit(node, "_reader(")
            self.generic_visit(node)

        def visit_Constant(self, node):
            if node.value == "left_anti":
                self.hit(node, "left_anti")

    root = pathlib.Path(ecommerce_lakehouse_platform_spark.__file__).parent
    for path in sorted((root / "sources" / "deltalog").glob("*.py")):
        Scan(path.relative_to(root)).visit(ast.parse(path.read_text()))
    assert sorted(seen) == sorted(allowed)
    assert not stray, stray
