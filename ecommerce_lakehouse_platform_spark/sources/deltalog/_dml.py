"""DML: copy-on-write and deletion-vector DELETE/UPDATE/MERGE.

One mixin of ``MiniDeltaTable``, assembled by the package ``__init__``,
whose docstring has the protocol overview."""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._base import (
    SchemaMismatchError,
    Snapshot,
    _remove_action,
)


class _DmlMixin:
    def _touched_rewrite(
        self,
        condition: Column,
        rewrite,
        operation: str,
        parameters: dict[str, Any],
        isolation: str = "write_serializable",
    ) -> int | None:
        """Copy-on-write DML core shared by DELETE and UPDATE: one
        discovery scan finds the FILES containing rows matching
        ``condition`` (the real engine's touched-file scan — sound for
        arbitrary predicates, and it prunes automatically: untouched
        files are never rewritten), ``rewrite(sub)`` produces those
        files' replacement relation, and the commit pairs their
        removes with the new adds. Returns the new version, or None if
        nothing matched (a no-op, like the real commands)."""
        snap = self.snapshot()
        self._assert_not_append_only(snap, operation)
        if not snap.files:
            return None
        if any(os.path.isabs(r) for r in snap.files):
            # touched-file discovery keys on table-relative paths; a
            # clone still referencing source files has none — and the
            # rewrite would copy the source's data under the clone's
            # root anyway, which read() + write() does explicitly
            raise NotImplementedError(
                "copy-on-write DML on a shallow clone that still "
                "references its source's files is not supported; "
                "rewrite the clone first (optimize() or read()+write())"
            )
        scan = self._scan(snap, snap.files, file_cols=True)
        touched_rels = sorted(
            r["_rel"]
            for r in scan.filter(condition).select("_rel").distinct().collect()
        )
        if not touched_rels:
            return None
        tracking = snap.configuration.get(self._RT_KEY) == "true"
        mat = snap.configuration.get(self._RT_MAT_KEY)
        # row-tracked copy-on-write: surviving rows carry their stable
        # id through the rewrite (DELETE filters, UPDATE reassigns
        # values — neither touches identity) into the replacement
        # files' hidden materialized column
        replacement = rewrite(
            self._scan(snap, touched_rels, row_ids=tracking)
        )
        if tracking:
            replacement = replacement.withColumnRenamed("_row_id", mat)
        # the same invariants as write(): an UPDATE breaking a CHECK
        # or a generated column fails its write job. (Real Delta
        # recomputes generated columns on UPDATE; this subset refuses.)
        adds = self._stage(
            replacement,
            snap.schema,
            snap.partition_columns,
            self._invariants(
                snap.configuration, snap.schema, replacement.columns
            ),
            extra_cols=(mat,) if tracking else (),
        )
        if tracking:
            for add in adds:
                add["tags"] = {
                    **(add.get("tags") or {}),
                    self._RT_MAT_TAG: "true",
                }
        now_ms = int(time.time() * 1000)
        actions: list[dict[str, Any]] = [
            _remove_action(snap.files[rel], now_ms) for rel in touched_rels
        ]
        actions.extend({"add": add} for add in adds)
        return self._commit_resolving(
            snap,
            actions,
            operation,
            {
                **parameters,
                "rewrittenFiles": len(touched_rels),
                "prunedFiles": len(snap.files) - len(touched_rels),
            },
            isolation=isolation,
            staged=[add["path"] for add in adds],
        )

    def delete(
        self,
        condition: Column,
        use_dv: bool = False,
        isolation: str = "write_serializable",
    ) -> int | None:
        """DELETE FROM ... WHERE: remove rows where ``condition`` is
        TRUE (NULL keeps the row — SQL semantics), rewriting ONLY the
        files that contain matches. At 100 TB a targeted delete (GDPR
        erasure, a bad-batch rollback) touches a sliver of the table;
        the touched-file discovery keeps the rewrite proportional to
        that sliver, never the table. Returns the new version or None
        when nothing matched.

        ``use_dv=True`` switches to DELETION VECTORS (the modern Delta
        writer's default): instead of rewriting the touched files, the
        matching rows' file positions are written to a parquet sidecar
        and each touched add is re-committed carrying a
        ``deletionVector`` descriptor — readers anti-join the sidecar
        against ``_metadata.row_index``, so a delete's cost is the
        POSITION LIST, not even the touched files' bytes. The sidecar
        is hive-partitioned per touched file (the real protocol's
        per-file-bitmap shape), so write cost scales with touched
        files, not one funnel task. OPTIMIZE materializes DVs away
        (reading victims through the filter); ``changes()`` emits a DV
        commit as row-level delete events; ``clone()`` carries DV
        references absolutely."""
        cond = F.coalesce(condition, F.lit(False))
        if use_dv:
            return self._delete_with_dv(cond, isolation)
        return self._touched_rewrite(
            cond,
            lambda sub: sub.filter(~cond),
            "DELETE",
            {},
            isolation,
        )

    def _dv_commit(
        self,
        snap: Snapshot,
        matched: DataFrame,
        operation: str,
        parameters: dict[str, Any],
        new_rows: DataFrame | None = None,
        isolation: str = "write_serializable",
    ) -> int | None:
        """Deletion-vector DML commit core shared by DELETE, UPDATE
        and MERGE: mark ``matched``'s (_rel, _pos) positions dead via
        a fresh hive-partitioned sidecar (each touched file's OLD DV
        positions — the rows :meth:`_scan` reads as ``dead`` — folded
        in, so every add references exactly one
        sidecar and superseded sidecars become vacuumable) and — for
        UPDATE/MERGE — append ``new_rows`` as plain adds in the SAME
        commit. Zero touched-file rewrites: the write cost is the
        position lists plus the replacement rows, never the touched
        files' bytes. The change feed reconstructs such a commit as
        row-level deletes of exactly the position delta plus inserts
        of the new files (documented delete+insert in place of
        update_pre/postimage)."""
        # the matched relation feeds up to THREE jobs (touched-file
        # counts, the sidecar write, and — via new_rows — the
        # replacement staging); persist it so the discovery scan runs
        # ONCE, not three times. Storage is bounded by the matched
        # rows — the data volume the DML inherently moves — and
        # spills to disk.
        from pyspark import StorageLevel

        matched = matched.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            return self._dv_commit_inner(
                snap,
                matched,
                operation,
                parameters,
                new_rows,
                isolation,
            )
        finally:
            matched.unpersist()

    def _dv_commit_inner(
        self,
        snap: Snapshot,
        matched: DataFrame,
        operation: str,
        parameters: dict[str, Any],
        new_rows: DataFrame | None = None,
        isolation: str = "write_serializable",
    ) -> int | None:
        positions = matched.select(
            F.col("_rel").alias("rel"), F.col("_pos").alias("pos")
        )
        touched = {
            r["rel"]: r["n"]
            for r in positions.groupBy("rel")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if not touched and new_rows is None:
            return None
        adds: list[dict[str, Any]] = []
        if new_rows is not None:
            # staged BEFORE the sidecar, so a write job refused by a
            # CHECK constraint or generated column leaves nothing behind
            adds = self._stage(
                new_rows,
                snap.schema,
                snap.partition_columns,
                self._invariants(
                    snap.configuration, snap.schema, new_rows.columns
                ),
            )
            # an empty replacement relation can still stage one
            # zero-row file — delete it rather than commit a pointless
            # add (and let a no-match UPDATE resolve to a no-op)
            empty = [
                a for a in adds
                if json.loads(a.get("stats") or "{}").get("numRecords") == 0
            ]
            self._discard([a["path"] for a in empty])
            adds = [a for a in adds if a not in empty]
            if not adds and not touched:
                return None
        now_ms = int(time.time() * 1000)
        parameters = {
            **parameters,
            "mode": "deletion-vectors",
            "dvFiles": len(touched),
            "rewrittenFiles": 0,
        }
        if new_rows is not None:
            parameters["newFiles"] = len(adds)
        staged = [add["path"] for add in adds]
        actions: list[dict[str, Any]] = []
        if touched:
            # DVs gate on reader 3 / writer 7 with the
            # "deletionVectors" table feature in the real protocol:
            # older readers must refuse the table rather than
            # resurrect deleted rows by scanning files directly.
            # _tf_upgrade emits the upgrade ONLY when the table is
            # not already there (versions AND feature names) — a
            # restated no-op protocol action would make every
            # concurrent loser raise ProtocolChangedError where the
            # conflict matrix promises a rebase (DML/OPTIMIZE over
            # untouched files), and the real writer only logs
            # protocol on an actual upgrade too.
            up = self._tf_upgrade(
                snap, {"deletionVectors"}, {"deletionVectors"}
            )
            if up is not None:
                actions.append({"protocol": up})
            pos_all = positions.unionByName(
                self._scan(snap, touched, file_cols=True, dead=True).select(
                    F.col("_rel").alias("rel"), F.col("_pos").alias("pos")
                )
            )
            dv_rel = f"_dv/{uuid.uuid4().hex}"
            staged.append(dv_rel)
            # per-file position lists, the real protocol's
            # per-file-bitmap shape: hive-partitioned by the data file
            # each DV belongs to, so a DML touching F files writes F
            # position lists in parallel — no single task ever
            # materializes the whole position set (the r8
            # repartition(1) funnel)
            pos_all.repartition("rel").write.partitionBy("rel").mode(
                "overwrite"
            ).parquet(os.path.join(self.path, dv_rel))
            cardinality = {
                r["rel"]: r["n"]
                for r in self.spark.read.parquet(
                    os.path.join(self.path, dv_rel)
                )
                .groupBy("rel")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            for rel in sorted(touched):
                actions.append(_remove_action(snap.files[rel], now_ms))
                add = {
                    k: v
                    for k, v in snap.files[rel].items()
                    if k != "deletionVector"
                }
                add["dataChange"] = True
                add["deletionVector"] = {
                    "storagePath": dv_rel,
                    "cardinality": int(cardinality[rel]),
                }
                actions.append({"add": add})
        actions.extend({"add": add} for add in adds)
        return self._commit_resolving(
            snap,
            actions,
            operation,
            parameters,
            isolation=isolation,
            staged=staged,
        )

    def _delete_with_dv(
        self, cond: Column, isolation: str = "write_serializable"
    ) -> int | None:
        snap = self.snapshot()
        self._assert_not_append_only(snap, "DELETE")
        if not snap.files:
            return None
        if any(os.path.isabs(r) for r in snap.files):
            raise NotImplementedError(
                "deletion vectors on tables with absolute file "
                "references (shallow clones) are not supported"
            )
        matched = self._scan(snap, snap.files, file_cols=True).filter(cond)
        return self._dv_commit(
            snap, matched, "DELETE", {}, isolation=isolation
        )

    def update(
        self,
        condition: Column,
        assignments: dict[str, Column],
        use_dv: bool = False,
        isolation: str = "write_serializable",
    ) -> int | None:
        """UPDATE ... SET ... WHERE: apply ``assignments`` to rows
        where ``condition`` is TRUE, same touched-file copy-on-write
        shape as :meth:`delete`. Assigned expressions are cast to the
        column's logged type (schema enforcement: an UPDATE can change
        values, never the table's shape). Returns the new version or
        None when nothing matched.

        ``use_dv=True`` is the modern Delta writer's DV-based UPDATE:
        instead of rewriting every touched file, the matched rows'
        positions go dead in a deletion-vector sidecar and the
        REWRITTEN rows alone are appended as new files in the same
        commit — write cost scales with the MATCHED ROWS, never the
        touched files' bytes (a 1-row update of a 1 GB file writes
        one position and one row). The change feed surfaces it as
        delete(old row) + insert(new row) — the documented stand-in
        for update_pre/postimage. CHECK constraints and generated
        columns are enforced on the rewritten rows before anything
        commits."""
        snap = self.snapshot()
        self._assert_not_append_only(snap, "UPDATE")
        snap_schema = {f.name: f.dataType for f in snap.schema}
        unknown = sorted(set(assignments) - set(snap_schema))
        if unknown:
            raise SchemaMismatchError(
                f"UPDATE assigns columns not in the table: {unknown}"
            )
        for iname, fmeta in self._identity_fields(snap.schema).items():
            if iname in assignments:
                # rewriting identity VALUES would bypass the watermark
                # (GENERATED ALWAYS forbids it outright; BY DEFAULT
                # would need a watermark restate this path lacks)
                raise ValueError(
                    f"UPDATE may not assign identity column {iname!r}"
                )
        cond = F.coalesce(condition, F.lit(False))
        params = {"columns": json.dumps(sorted(assignments))}
        if use_dv:
            if not snap.files:
                return None
            if any(os.path.isabs(r) for r in snap.files):
                raise NotImplementedError(
                    "deletion vectors on tables with absolute file "
                    "references (shallow clones) are not supported"
                )
            matched = self._scan(snap, snap.files, file_cols=True).filter(
                cond
            )
            new_rows = matched.select(
                *[
                    (
                        assignments[f.name].cast(snap_schema[f.name])
                        if f.name in assignments
                        else F.col(f.name)
                    ).alias(f.name)
                    for f in snap.schema
                ]
            )
            return self._dv_commit(
                snap,
                matched,
                "UPDATE",
                params,
                new_rows=new_rows,
                isolation=isolation,
            )

        def rewrite(sub: DataFrame) -> DataFrame:
            out = sub
            for name, expr in assignments.items():
                out = out.withColumn(
                    name,
                    F.when(cond, expr.cast(snap_schema[name])).otherwise(
                        F.col(name)
                    ),
                )
            return out

        return self._touched_rewrite(
            cond, rewrite, "UPDATE", params, isolation
        )

    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        prune_files: bool = False,
        use_dv: bool = False,
        isolation: str = "write_serializable",
    ) -> int | None:
        """Copy-on-write MERGE (upsert): matched target rows are
        replaced by their source row, unmatched source rows are
        inserted — the semantic core of ``MERGE INTO``. Relational
        algebra shared with ``operators/scd.merge_upsert``.

        ``prune_files=False`` (default) commits the result as a full
        overwrite: every row's change-feed event count is then a pure
        function of the DATA (3 events for a surviving pre-merge row,
        1 for an upserted one), which is what lets
        ``ext_delta_merge_cdf`` pin per-row counts in its oracle.

        ``prune_files=True`` is the real engine's optimization of the
        same contract: only files whose stats range can contain a
        source key (plus statless files — conservative) are read and
        rewritten; untouched files stay committed as-is. At 100 TB an
        incremental upsert touches a sliver of the table, and
        rewriting only that sliver is the difference between a merge
        and a full rebuild. The RESULT relation is identical either
        way (tests pin it); per-row CDF event counts become
        layout-dependent (rows sharing a file with a matched row get
        delete+reinsert), but the change feed's NET fold still equals
        the snapshot — the layout-independent CDF invariant.

        Single-key pruning only: multi-key ranges compose poorly with
        per-column min/max, so multi-key merges fall back to the full
        overwrite.

        ``use_dv=True`` is the modern writer's DV-based MERGE: matched
        target rows go dead under a deletion-vector sidecar and the
        ENTIRE source relation (replacements + inserts) lands as new
        files in the same commit — zero target files rewritten, write
        cost ∝ |source| + matched positions. Rows merely SHARING a
        file with a matched row contribute no change-feed events (the
        copy-on-write paths' delete+reinsert of untouched neighbors
        disappears). Single-key sources additionally prune the
        match-discovery scan by file stats. Returns None when the
        source is empty (a no-op)."""
        from ...operators.scd import merge_upsert

        idents = self._identity_fields(self.snapshot().schema)
        if idents:
            # MERGE lands source rows carrying the identity column's
            # values verbatim, bypassing assignment — accepting them
            # without advancing the watermark would let a later
            # identity-omitting append re-mint a merged id. Refused
            # until merge learns to restate the watermark; route
            # inserts through write() (which assigns + advances) and
            # matched updates through update()
            raise NotImplementedError(
                f"MERGE into a table with identity columns "
                f"({sorted(idents)}) is not supported: merged values "
                "would bypass the watermark and risk duplicate ids; "
                "append new rows via write() and change matched rows "
                "via update()"
            )
        if use_dv:
            return self._merge_with_dv(source, keys, isolation)
        target = self.read()
        if not prune_files or len(keys) != 1:
            merged = merge_upsert(target, source.select(*target.columns), keys)
            return self.write(merged, mode="overwrite")

        key = keys[0]
        bounds = source.select(
            F.min(key).alias("lo"), F.max(key).alias("hi")
        ).collect()[0]
        snap = self.snapshot()
        self._assert_not_append_only(snap, "MERGE")
        touched = set(self.files_for_range(key, bounds["lo"], bounds["hi"]))
        touched_rels = sorted(
            rel
            for rel in snap.files
            if os.path.join(self.path, rel) in touched
        )
        sub = self._scan(snap, touched_rels)
        merged_sub = merge_upsert(sub, source.select(*sub.columns), keys)
        # the pruned path bypasses write(), so it passes the same
        # commit invariants itself: CHECK constraints and generated
        # columns hold on the replacement relation or nothing commits
        adds = self._stage(
            merged_sub,
            snap.schema,
            snap.partition_columns,
            self._invariants(
                snap.configuration, snap.schema, merged_sub.columns
            ),
        )
        now_ms = int(time.time() * 1000)
        actions: list[dict[str, Any]] = [
            _remove_action(snap.files[rel], now_ms) for rel in touched_rels
        ]
        actions.extend({"add": add} for add in adds)
        return self._commit_resolving(
            snap,
            actions,
            "MERGE",
            {
                "keys": json.dumps(keys),
                "prunedFiles": len(snap.files) - len(touched_rels),
                "rewrittenFiles": len(touched_rels),
            },
            isolation=isolation,
            staged=[add["path"] for add in adds],
        )

    def _merge_with_dv(
        self,
        source: DataFrame,
        keys: list[str],
        isolation: str = "write_serializable",
    ) -> int | None:
        snap = self.snapshot()
        self._assert_not_append_only(snap, "MERGE")
        if snap.files and any(os.path.isabs(r) for r in snap.files):
            raise NotImplementedError(
                "deletion vectors on tables with absolute file "
                "references (shallow clones) are not supported"
            )
        src = source.select(*[f.name for f in snap.schema])
        if src.isEmpty():
            return None  # nothing to match, nothing to insert
        scan_rels = sorted(snap.files)
        if len(keys) == 1 and scan_rels:
            # single-key stats pruning of the DISCOVERY scan: only
            # files whose min/max range can contain a source key need
            # reading for matched positions (statless files stay in —
            # conservative). NULL-keyed source rows match nothing per
            # SQL join semantics, so the bounds may ignore them.
            bounds = src.select(
                F.min(keys[0]).alias("lo"), F.max(keys[0]).alias("hi")
            ).collect()[0]
            if bounds["lo"] is None:
                scan_rels = []
            else:
                in_range = set(
                    self.files_for_range(keys[0], bounds["lo"], bounds["hi"])
                )
                scan_rels = sorted(
                    rel
                    for rel in snap.files
                    if os.path.join(self.path, rel) in in_range
                )
        # AQE picks broadcast for a small key set; an explicit hint
        # would be wrong for a table-scale source
        matched = self._scan(snap, scan_rels, file_cols=True).join(
            src.select(*keys).distinct(), on=keys, how="left_semi"
        )
        return self._dv_commit(
            snap,
            matched,
            "MERGE",
            {
                "keys": json.dumps(keys),
                "prunedFiles": len(snap.files) - len(scan_rels),
            },
            new_rows=src,
            isolation=isolation,
        )

