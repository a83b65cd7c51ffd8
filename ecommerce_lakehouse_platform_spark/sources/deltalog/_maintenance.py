"""Maintenance: checkpoints (classic + v2 manifest/sidecars), OPTIMIZE/REORG, Z-order layout, RESTORE, CLONE, log expiry, VACUUM.

One mixin of ``MiniDeltaTable``, assembled by the package ``__init__``,
whose docstring has the protocol overview."""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._base import (
    _LAST_CHECKPOINT,
    _LOG_DIR,
    _SIDECAR_DIR,
    Snapshot,
    _checkpoint_arrow_schema,
    _every_file,
    _metadata_action,
    _protocol_action,
    _remove_action,
    _state_actions,
)


class _MaintenanceMixin:
    # -- checkpoints ------------------------------------------------------

    def _checkpoint_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:020d}.checkpoint.parquet")

    def _latest_checkpoint_version(self) -> int | None:
        """The ``_last_checkpoint`` hint, validated against the file it
        points at (the protocol treats the hint as advisory — a missing
        or corrupt hint means full JSON replay, never an error)."""
        hint = os.path.join(self.log_dir, _LAST_CHECKPOINT)
        try:
            with open(hint, encoding="utf-8") as fh:
                version = int(json.load(fh)["version"])
        except (OSError, ValueError, KeyError, TypeError):
            return None
        return version if os.path.exists(self._checkpoint_path(version)) else None

    def _checkpoint_versions(self) -> list[int]:
        """Every checkpoint present on disk (directory scan, not the
        hint): time travel and CDF need the newest checkpoint AT OR
        BEFORE a target version, which the advisory ``_last_checkpoint``
        hint — always the newest overall — cannot answer once later
        checkpoints exist."""
        if not os.path.isdir(self.log_dir):
            return []
        suffix = ".checkpoint.parquet"
        out = []
        for name in os.listdir(self.log_dir):
            stem = name[: -len(suffix)]
            if name.endswith(suffix) and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def _best_checkpoint_at_or_before(self, version: int) -> int | None:
        hint = self._latest_checkpoint_version()
        if hint is not None and hint <= version:
            return hint  # the hint is the newest overall, so it wins
        eligible = [c for c in self._checkpoint_versions() if c <= version]
        return max(eligible) if eligible else None

    def _maybe_checkpoint(self, version: int) -> None:
        if (
            self.checkpoint_interval
            and version > 0
            and version % self.checkpoint_interval == 0
        ):
            # best-effort, like the real writer: the commit is already
            # published, so a failed checkpoint must not make a
            # successful write look failed (a caller's retry would
            # double-apply it) — readers just replay more JSON until
            # the next interval lands one
            try:
                self.checkpoint(version)
            except Exception:
                pass

    def checkpoint(self, version: int | None = None) -> int:
        """Write the snapshot as of ``version`` (default: latest) as
        ``{version:020d}.checkpoint.parquet`` and point
        ``_last_checkpoint`` at it unless the hint already names a
        newer checkpoint. A checkpoint is the serialized
        snapshot: one row per state action (``_state_actions``), so
        its size is O(files), and every later snapshot replays it plus
        only the commits after it instead of the whole JSON history.
        ``snapshot()`` itself chains from the newest earlier
        checkpoint, so writing one never replays the whole log."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        snap = self.snapshot(version)
        version = snap.version
        rows = _state_actions(snap)
        schema = _checkpoint_arrow_schema()
        if snap.configuration.get(self._CKPT_POLICY_KEY) == "v2":
            # V2 checkpoint (PROTOCOL.md "V2 Checkpoint Table
            # Feature"): file actions live in SIDECAR parquet files,
            # bucketed by a stable hash of the file path and NAMED BY
            # CONTENT HASH — a later checkpoint whose bucket did not
            # change reuses the sidecar byte-for-byte instead of
            # rewriting it, so checkpoint write cost is proportional
            # to the CHANGED slice of the file set, not the table.
            import hashlib

            sidecar_dir = os.path.join(self.log_dir, _SIDECAR_DIR)
            os.makedirs(sidecar_dir, exist_ok=True)
            # largest power of two <= files/target: the bucket count
            # only DOUBLES when the file count doubles, so ordinary
            # growth never reshuffles every bucket and cross-checkpoint
            # reuse survives (a ceil() count would re-key the whole
            # layout each time the table crossed a bucket boundary)
            adds = [row for row in rows if "add" in row]
            rows = [row for row in rows if "add" not in row]
            ratio = max(1, len(adds) // self._SIDECAR_FILES)
            n_buckets = 1 << (ratio.bit_length() - 1)
            buckets: dict[int, list[dict[str, Any]]] = {}
            for row in adds:
                rel = row["add"]["path"]
                b = (
                    int(hashlib.md5(rel.encode("utf-8")).hexdigest()[:8], 16)
                    % n_buckets
                )
                buckets.setdefault(b, []).append(row)
            for b in range(n_buckets):
                payload = buckets.get(b, [])
                content = hashlib.md5(
                    json.dumps(payload, sort_keys=True).encode("utf-8")
                ).hexdigest()
                name = f"{content}.parquet"
                dst = os.path.join(sidecar_dir, name)
                if not os.path.exists(dst):
                    tmp = os.path.join(
                        sidecar_dir, f".sc-{uuid.uuid4().hex}.parquet"
                    )
                    pq.write_table(
                        pa.Table.from_pylist(payload, schema=schema), tmp
                    )
                    os.replace(tmp, dst)
                rows.append(
                    {
                        "sidecar": {
                            "path": name,
                            "sizeInBytes": os.stat(dst).st_size,
                        }
                    }
                )
        table = pa.Table.from_pylist(rows, schema=schema)
        tmp = os.path.join(self.log_dir, f".ckpt-{uuid.uuid4().hex}.parquet")
        pq.write_table(table, tmp)
        os.replace(tmp, self._checkpoint_path(version))
        hint = self._latest_checkpoint_version()
        if hint is not None and hint >= version:
            # the hint names the NEWEST checkpoint: re-checkpointing an
            # older version must not move it back, or snapshots would
            # chain from the older one across expired commits
            return version
        hint_tmp = os.path.join(self.log_dir, f".lc-{uuid.uuid4().hex}.json")
        with open(hint_tmp, "w", encoding="utf-8") as fh:
            json.dump({"version": version, "size": len(rows)}, fh)
        os.replace(hint_tmp, os.path.join(self.log_dir, _LAST_CHECKPOINT))
        return version

    def _read_checkpoint(self, version: int) -> list[dict[str, Any]]:
        """Checkpoint rows back as action dicts, same shape as the JSON
        log lines, so snapshot replay treats both sources identically.
        A v2 manifest's ``sidecar`` rows inline their sidecar files'
        add actions (one parquet read per sidecar — O(files) total,
        the same metadata volume a v1 checkpoint holds in one file)."""
        import pyarrow.parquet as pq

        rows = pq.read_table(self._checkpoint_path(version)).to_pylist()
        sidecars = [
            os.path.join(self.log_dir, _SIDECAR_DIR, row["sidecar"]["path"])
            for row in rows
            if row.get("sidecar") is not None
        ]
        if sidecars:
            # one dataset read over all sidecars: per-file Python open
            # overhead dominated the naive loop (64 buckets ~0.4s;
            # batched ~0.1s), and at 100 TB bucket counts the gap is
            # the whole replay cost
            import pyarrow.dataset as pds

            rows.extend(pds.dataset(sidecars).to_table().to_pylist())
        actions: list[dict[str, Any]] = []
        for row in rows:
            if row.get("sidecar") is not None:
                continue
            if row.get("protocol") is not None:
                actions.append({"protocol": row["protocol"]})
            elif row.get("metaData") is not None:
                meta = dict(row["metaData"])
                meta["configuration"] = dict(meta.get("configuration") or [])
                actions.append({"metaData": meta})
            elif row.get("add") is not None:
                add = dict(row["add"])
                add["partitionValues"] = dict(add.get("partitionValues") or [])
                tags = dict(add.get("tags") or [])
                if tags:
                    add["tags"] = tags
                else:
                    add.pop("tags", None)
                if add.get("deletionVector") is None:
                    add.pop("deletionVector", None)
                else:
                    add["deletionVector"] = dict(add["deletionVector"])
                if add.get("baseRowId") is None:
                    add.pop("baseRowId", None)
                actions.append({"add": add})
            elif row.get("txn") is not None:
                actions.append({"txn": dict(row["txn"])})
            elif row.get("domainMetadata") is not None:
                actions.append(
                    {"domainMetadata": dict(row["domainMetadata"])}
                )
        return actions

    def optimize(
        self,
        max_file_bytes: int = 128 << 20,
        zorder_by: list[str] | None = None,
    ) -> int | None:
        """OPTIMIZE-style compaction: partitions holding more than one
        active file are rewritten into ~``max_file_bytes`` bins and the
        swap is committed as paired remove/add actions with
        ``dataChange=false`` — history, time travel, and the change
        feed all see a no-op, and ``vacuum`` later reclaims the small
        files. Returns the committed version, or None when every
        partition is already a single file.

        ``zorder_by`` = the ``OPTIMIZE ... ZORDER BY (cols)`` variant:
        EVERY active file is rewritten (clustering is a property of the
        whole layout, so like the real command this mode doesn't skip
        single-file partitions) with rows ordered along the Morton
        curve of the named columns (``operators/zorder.z_value``) —
        each rewritten file then carries tight min/max ranges on ALL
        the named dimensions at once, so downstream parquet min/max
        skipping fires for predicates on any of them. Columns are
        range-normalized into the curve's bucket domain from one
        min/max aggregate over the victims (numeric/date/timestamp
        only; nulls cluster at bucket 0). Still ``dataChange=false`` —
        a re-clustered table is the same table."""
        snap = self.snapshot()
        groups = self._partition_file_groups(snap)
        if zorder_by:
            targets = [adds for adds in groups.values() if adds]
        else:
            targets = [adds for adds in groups.values() if len(adds) > 1]
        if not targets:
            return None
        return self._compact_rewrite(
            snap,
            targets,
            max_file_bytes,
            zorder_by,
            operation="OPTIMIZE",
            parameters={
                "targetSize": str(max_file_bytes),
                "zOrderBy": json.dumps(list(zorder_by or [])),
            },
        )

    def reorg_purge(self, max_file_bytes: int = 128 << 20) -> int | None:
        """``REORG TABLE ... APPLY (PURGE)``: rewrite ONLY the active
        files that carry deletion vectors, physically materializing
        the soft deletes — the rewritten files have no ``deletionVector``
        descriptor and the dead rows are gone from disk (the real
        command's contract; delta-io PROTOCOL.md "Deletion Vectors").
        Files without a DV are untouched, so the cost is proportional
        to the DV-carrying byte volume, not the table. Committed as
        paired remove/add with ``dataChange=false`` — DV'd rows were
        already logically deleted, so history, time travel, and the
        change feed all see a no-op — and the superseded ``_dv/``
        sidecars become reclaimable by :meth:`vacuum`. Returns the
        committed version, or None when no active file carries a DV.

        Completes the DV lifecycle: DELETE/UPDATE/MERGE with
        ``use_dv=True`` write positions cheaply at DML time; this
        command amortizes the physical rewrite to a maintenance
        window. (OPTIMIZE also materializes DVs, but rewrites every
        multi-file partition; PURGE touches only what a DV taints.)
        """
        snap = self.snapshot()
        groups = self._partition_file_groups(
            snap, keep=lambda a: bool(a.get("deletionVector"))
        )
        targets = [adds for adds in groups.values() if adds]
        if not targets:
            return None
        return self._compact_rewrite(
            snap,
            targets,
            max_file_bytes,
            None,
            operation="REORG",
            parameters={"applyPurge": "true"},
        )

    @staticmethod
    def _partition_file_groups(
        snap: Snapshot, keep=None
    ) -> dict[tuple, list[dict[str, Any]]]:
        """Active files grouped by partition values (deterministic
        order), optionally filtered by ``keep(add)``."""
        groups: dict[tuple, list[dict[str, Any]]] = {}
        for rel in sorted(snap.files):
            add = snap.files[rel]
            if keep is not None and not keep(add):
                continue
            key = tuple(sorted((add.get("partitionValues") or {}).items()))
            groups.setdefault(key, []).append(add)
        return groups

    def _compact_rewrite(
        self,
        snap: Snapshot,
        targets: list[list[dict[str, Any]]],
        max_file_bytes: int,
        zorder_by: list[str] | None,
        operation: str,
        parameters: dict[str, Any],
    ) -> int:
        """Shared rewrite core for OPTIMIZE and REORG(PURGE): read the
        victim files through their deletion vectors, re-bin to
        ~``max_file_bytes`` (or the Z-order layout), and commit the
        swap as ``dataChange=false`` remove/add pairs."""
        victim_rels = [a["path"] for adds in targets for a in adds]
        total = sum(a.get("size") or 0 for adds in targets for a in adds)

        tracking = snap.configuration.get(self._RT_KEY) == "true"
        mat = snap.configuration.get(self._RT_MAT_KEY)
        # read victims THROUGH any active deletion vectors: OPTIMIZE
        # materializes DVs — the rewritten files carry no descriptor
        # and the deleted rows are physically gone. A row-tracked
        # rewrite carries each surviving row's stable id into the new
        # layout as the hidden materialized column; _rel (the source
        # file) doubles as _fname below.
        df = self._scan(snap, victim_rels, row_ids=tracking, file_cols=True)
        if tracking:
            df = df.withColumnRenamed("_row_id", mat)
        cast_cols = [f.name for f in snap.schema] + ([mat] if tracking else [])
        if zorder_by:
            df, nrows = self._zorder_layout(
                df.select(*cast_cols),
                snap.partition_columns,
                zorder_by,
                total,
                max_file_bytes,
            )
        elif snap.partition_columns:
            # per-PARTITION size-targeted bins: each rewritten group
            # gets ⌈bytes/max_file_bytes⌉ bins, carried to its rows by
            # a broadcast join on the source file's table-relative path
            # (the basename alone is NOT unique — one write reuses the
            # same part-file name across partition directories), and a
            # content-hash salt spreads the group across that many
            # tasks — so a 10 GB partition is NOT funneled through one
            # task into one 10 GB file
            bins_rows = []
            for adds in targets:
                bins = max(
                    1,
                    -(-sum(a.get("size") or 0 for a in adds) // max_file_bytes),
                )
                for a in adds:
                    bins_rows.append((a["path"], bins))
            bins_df = self.spark.createDataFrame(
                bins_rows, "_fname string, _bins long"
            )
            # the row's source path is the _rel column the scan
            # attached from the file METADATA (see _rel_from)
            df = df.withColumnRenamed("_rel", "_fname").join(
                F.broadcast(bins_df), "_fname", "left"
            )
            # fail fast BEFORE committing removes: a row whose source
            # path failed to match would silently vanish from the
            # rewrite, and the OPTIMIZE commit would remove its file —
            # committed data loss (the exact failure mode the decode
            # above prevents; this check makes it structural)
            stats = df.agg(
                F.count(F.lit(1)).alias("_rows"),
                F.count_if(F.col("_bins").isNull()).alias("_lost"),
            ).collect()[0]
            if stats["_lost"]:
                raise RuntimeError(
                    f"optimize aborted: {stats['_lost']} rows' recovered "
                    "source paths matched no logged add path; committing "
                    "would drop them from the table"
                )
            nrows = stats["_rows"]
            df = (
                df.withColumn(
                    # hash the source file in too: duplicate rows (and
                    # whole duplicate files) still spread across bins
                    "_salt",
                    F.pmod(
                        F.xxhash64("_fname", *[f.name for f in snap.schema]),
                        F.col("_bins"),
                    ),
                )
                .repartition(*snap.partition_columns, F.col("_salt"))
                .select(*cast_cols)
            )
        else:
            df = df.select(*cast_cols).repartition(
                max(1, -(-total // max_file_bytes))
            )
            nrows = df.count()
        # the salt gives cross-task parallelism at scale, but AQE may
        # coalesce small shuffle partitions back into one task — the
        # writer-level record cap enforces the size target regardless
        # of task boundaries
        avg_row = max(1, total // max(1, nrows))
        adds = self._stage(
            df,
            snap.schema,
            snap.partition_columns,
            extra_cols=(mat,) if tracking else (),
            max_records_per_file=max(1, max_file_bytes // avg_row),
        )
        if tracking:
            # readers pick the materialized column over the fresh
            # formula by this tag
            for add in adds:
                add["tags"] = {
                    **(add.get("tags") or {}),
                    self._RT_MAT_TAG: "true",
                }

        now_ms = int(time.time() * 1000)
        actions: list[dict[str, Any]] = [
            _remove_action(snap.files[rel], now_ms, data_change=False)
            for rel in victim_rels
        ]
        for add in adds:
            actions.append({"add": {**add, "dataChange": False}})
        return self._commit_resolving(
            snap,
            actions,
            operation,
            parameters,
            staged=[add["path"] for add in adds],
        )

    def _zorder_layout(
        self,
        df: DataFrame,
        partition_columns: list[str],
        zorder_by: list[str],
        total_bytes: int,
        max_file_bytes: int,
    ) -> tuple[DataFrame, int]:
        """(layout, nrows): order the rewrite along the Morton curve
        of ``zorder_by``: each column is range-normalized into the
        curve's 16-bit bucket domain from ONE min/max aggregate over
        the victims (driver traffic = 2 scalars per column plus the
        row count, which rides the same aggregate so the caller's
        avg-row sizing costs no extra scan), interleaved with
        ``operators/zorder.z_value``, then range-partitioned into
        ~``max_file_bytes`` curve segments and sorted within tasks —
        so every output file covers one contiguous curve segment and
        carries tight min/max on every named dimension."""
        from ...operators.zorder import z_value

        bits = 16
        cap = (1 << bits) - 1
        dtypes = dict(df.dtypes)
        numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
        norm: list[tuple[str, Column]] = []
        for name in zorder_by:
            t = dtypes.get(name)
            if t is None:
                raise ValueError(f"zorder_by column not in table: {name}")
            if t == "date":
                num = F.unix_date(F.col(name)).cast("double")
            elif t.startswith("timestamp") or t in numeric or t.startswith(
                "decimal"
            ):
                num = F.col(name).cast("double")
            else:
                raise ValueError(
                    "zorder_by supports numeric/date/timestamp columns; "
                    f"{name} is {t}"
                )
            norm.append((name, num))
        bounds = df.agg(
            F.count(F.lit(1)).alias("_nrows"),
            *[
                agg
                for name, num in norm
                for agg in (
                    F.min(num).alias(f"_mn_{name}"),
                    F.max(num).alias(f"_mx_{name}"),
                )
            ],
        ).collect()[0]
        nrows = bounds["_nrows"]
        buckets: list[Column] = []
        for name, num in norm:
            mn, mx = bounds[f"_mn_{name}"], bounds[f"_mx_{name}"]
            if mn is None or mx is None or mx <= mn:
                buckets.append(F.lit(0).cast("long"))
                continue
            scaled = F.floor(
                (F.coalesce(num, F.lit(mn)) - F.lit(mn))
                / F.lit(mx - mn)
                * cap
            )
            buckets.append(
                F.greatest(F.lit(0), F.least(F.lit(cap), scaled)).cast("long")
            )
        n_parts = max(1, -(-total_bytes // max_file_bytes))
        keys = [F.col(c) for c in partition_columns] + [F.col("_z")]
        layout = (
            df.withColumn("_z", z_value(buckets, bits))
            .repartitionByRange(n_parts, *keys)
            .sortWithinPartitions(*keys)
            .drop("_z")
        )
        return layout, nrows

    def restore_to_timestamp(self, ts_ms: int) -> int:
        """RESTORE TABLE ... TO TIMESTAMP AS OF: resolve the newest
        version at-or-before the instant (clock-skew monotonized,
        :meth:`version_at_timestamp`) and restore to it."""
        return self.restore(self.version_at_timestamp(ts_ms))

    def restore(self, version: int) -> int:
        """RESTORE TABLE ... TO VERSION AS OF: commit the file set and
        schema of an older snapshot as a NEW version (history moves
        forward — the rolled-back states stay addressable). Requires
        the target version's data files to still exist (not vacuumed),
        which is the real command's constraint too. Metadata-only:
        file-level removes/adds, no data rewrite."""
        target = self.snapshot(version)
        for rel in target.files:
            if not os.path.exists(os.path.join(self.path, rel)):
                raise FileNotFoundError(
                    f"cannot restore to version {version}: data file {rel} "
                    "was vacuumed"
                )
        current = self.snapshot()
        # diff LOGICAL files (path plus deletion vector): a file whose
        # DV changed since the target is removed and re-added under
        # the target's DV, or the rows it deleted stay deleted
        dv_changed = {
            rel
            for rel in set(current.files) & set(target.files)
            if current.files[rel].get("deletionVector")
            != target.files[rel].get("deletionVector")
        }
        removed = sorted((set(current.files) - set(target.files)) | dv_changed)
        added = sorted((set(target.files) - set(current.files)) | dv_changed)
        if removed:
            # rolling back PAST committed rows removes them — exactly
            # what delta.appendOnly forbids; a restore that removes no
            # files (pure metadata/schema rollback) stays allowed
            self._assert_not_append_only(current, "RESTORE")
        now_ms = int(time.time() * 1000)
        actions: list[dict[str, Any]] = [
            # RESTORE rolls the table properties back with the schema:
            # CHECK constraints (and everything else in the
            # configuration) as of the target version stay enforced —
            # an empty map here would silently disable them
            _metadata_action(
                current.table_id,
                target.schema,
                target.partition_columns,
                target.configuration,
                now_ms,
            )
        ]
        for rel in removed:
            actions.append(_remove_action(current.files[rel], now_ms))
        for rel in added:
            actions.append({"add": {**target.files[rel], "dataChange": True}})
        return self._commit_resolving(
            current,
            actions,
            "RESTORE",
            {"version": str(version)},
            reads=_every_file,
        )

    def clone(self, target_path: str) -> "MiniDeltaTable":
        """SHALLOW CLONE: a new table whose version 0 references the
        source snapshot's data files by ABSOLUTE path — metadata-only,
        zero data copied, the standard zero-copy dev/test snapshot at
        warehouse scale (the protocol allows absolute paths in ``add``
        actions, which is exactly how the real command records them).
        The clone evolves independently: its own writes land under its
        own root as relative adds, overwrites just drop the references
        to the source files, and vacuuming the SOURCE invalidates
        clones that still reference those files — the real command's
        caveat too. Partitioned sources clone fine: every ``add``
        action carries its ``partitionValues``, and the clone's scan
        restores partition columns FROM THE LOG (the protocol's
        source of truth) instead of hive path recovery, which cannot
        span mixed roots; deletion vectors and column defaults apply
        to the referenced files exactly as on the source."""
        snap = self.snapshot()
        target = type(self)(
            self.spark, target_path, self.checkpoint_interval
        )
        if target.exists():
            raise FileExistsError(f"clone target is already a table: {target_path}")
        actions: list[dict[str, Any]] = [
            # the source's protocol as replayed: a clone reads the
            # same files the same way (a source with live DVs already
            # lists deletionVectors, a column-mapped one keeps its
            # mapping gate)
            _protocol_action(snap),
            # a new table under a new id, with the source's properties
            # — CHECK constraints keep holding on the clone
            _metadata_action(
                str(uuid.uuid4()),
                snap.schema,
                snap.partition_columns,
                snap.configuration,
                int(time.time() * 1000),
            ),
        ]
        for rel in sorted(snap.files):
            # every cloned file is a change of the new table: its CDF
            # from version 0 inserts the source's rows
            add = {**snap.files[rel], "dataChange": True}
            add["path"] = os.path.abspath(os.path.join(self.path, rel))
            if add.get("deletionVector"):
                # DV sidecars become absolute references too: the
                # clone reads the SOURCE's position lists (rel values
                # stay source-relative — _dv_root resolves the root
                # from the absolute storagePath). Vacuuming the source
                # invalidates them exactly like its data files.
                dv = dict(add["deletionVector"])
                dv["storagePath"] = os.path.abspath(
                    os.path.join(self.path, dv["storagePath"])
                )
                add["deletionVector"] = dv
            actions.append({"add": add})
        target._commit_resolving(None, actions, "CLONE", {"source": self.path})
        return target

    def expire_log(self) -> list[int]:
        """Delete JSON commit files strictly OLDER than the newest
        checkpoint (the real writer's log-retention cleanup): snapshot
        planning never needed them again, and keeping the log bounded
        is what makes a long-lived 100 TB table's metadata O(files +
        interval) rather than O(every commit ever). Time travel to the
        expired versions is gone — exactly the real retention trade.
        Returns the expired version numbers; no-op without a
        checkpoint."""
        ckpt = self._latest_checkpoint_version()
        if ckpt is None:
            return []
        expired = []
        for v in self.versions():
            if v < ckpt:
                os.unlink(self._version_file(v))
                expired.append(v)
        # v2 sidecar GC: a sidecar is live while ANY manifest still on
        # disk references it (checkpoints are kept, so this only
        # reclaims buckets every later checkpoint rewrote) — one
        # column read per manifest, no data touched
        sidecar_dir = os.path.join(self.log_dir, _SIDECAR_DIR)
        if os.path.isdir(sidecar_dir):
            import pyarrow.parquet as pq

            live: set[str] = set()
            for cv in self._checkpoint_versions():
                t = pq.read_table(self._checkpoint_path(cv))
                if "sidecar" in t.column_names:
                    for sc in t.column("sidecar").to_pylist():
                        if sc is not None:
                            live.add(sc["path"])
            # grace window: checkpoint() writes sidecars BEFORE
            # publishing the manifest that references them, so a
            # concurrent expire could see a just-written sidecar as
            # unreferenced and break the about-to-publish checkpoint's
            # replay. Anything young enough to belong to an in-flight
            # checkpoint survives this pass; a truly orphaned young
            # sidecar is reclaimed by the next expire after the
            # window.
            cutoff = time.time() - self._SIDECAR_GC_GRACE_MS / 1000.0
            for name in os.listdir(sidecar_dir):
                p = os.path.join(sidecar_dir, name)
                if not name.endswith(".parquet") or name in live:
                    continue
                try:
                    if os.path.getmtime(p) > cutoff:
                        continue
                    os.unlink(p)
                except OSError:
                    continue  # concurrently reclaimed — fine
        return expired

    def _remove_timestamps(self) -> dict[str, int]:
        """file path -> its NEWEST remove action's deletionTimestamp
        across the retained log (a re-added path's stale removes don't
        matter: the caller only consults paths that are inactive in
        the latest snapshot, so the newest remove is the one that made
        them inactive). O(history) metadata reads, no data touched."""
        out: dict[str, int] = {}
        for v in self.versions():
            for a in self._read_actions(v):
                if "remove" in a:
                    out[a["remove"]["path"]] = max(
                        out.get(a["remove"]["path"], 0),
                        int(a["remove"].get("deletionTimestamp", 0)),
                    )
        return out

    def vacuum(self, retention_ms: int = 0) -> list[str]:
        """VACUUM [RETAIN]: delete data files not referenced by the
        LATEST snapshot and return their relative paths.

        ``retention_ms`` is the real command's retention window: only
        files whose newest ``remove`` action is older than ``now −
        retention_ms`` are reclaimed, so time travel and CDF over the
        window stay intact while older versions' storage is released
        — the default 0 reclaims everything unreferenced, the real
        command's RETAIN 0 HOURS. A file or ``_dv/`` sidecar that no
        retained commit removes is either debris or a concurrent
        writer's staged output that its commit is about to reference,
        so, as the Delta protocol has it, it is reclaimed only once its
        modification time is older than ``now − retention_ms``: the
        window protects in-flight writers as well as time travel."""
        snap = self.snapshot()
        active = set(snap.files)
        cutoff = int(time.time() * 1000) - max(0, retention_ms)
        removed_at = self._remove_timestamps() if retention_ms > 0 else {}

        def retained(rel: str) -> bool:
            if retention_ms <= 0:
                return False
            if rel in removed_at:
                return removed_at[rel] > cutoff
            mtime = os.path.getmtime(os.path.join(self.path, rel))
            return mtime * 1000 > cutoff

        live_sidecars = {
            a["deletionVector"]["storagePath"]
            for a in snap.files.values()
            if a.get("deletionVector")
        }
        if retention_ms > 0:
            # a sidecar referenced by any RETAINED version's adds must
            # survive too: approximate by retaining sidecars referenced
            # by adds of files whose remove is inside the window
            for v in self.versions():
                for a in self._read_actions(v):
                    dv = a.get("add", {}).get("deletionVector")
                    if dv and (
                        a["add"]["path"] in active
                        or retained(a["add"]["path"])
                    ):
                        live_sidecars.add(dv["storagePath"])
        removed: list[str] = []
        # deletion-vector sidecars live under _dv/<id>; those the
        # LATEST snapshot (or a retained version) references are table
        # state, superseded ones reclaim here
        dv_root = os.path.join(self.path, "_dv")
        if os.path.isdir(dv_root):
            for name in sorted(os.listdir(dv_root)):
                rel = f"_dv/{name}"
                if rel not in live_sidecars and not retained(rel):
                    shutil.rmtree(os.path.join(self.path, rel),
                                  ignore_errors=True)
                    removed.append(rel)
        for root, dirs, names in os.walk(self.path):
            dirs[:] = [
                d
                for d in dirs
                if d != _LOG_DIR and d != "_dv" and not d.startswith(".")
            ]
            for name in names:
                if name.startswith((".", "_")) or not name.endswith(".parquet"):
                    continue
                rel = os.path.relpath(os.path.join(root, name), self.path)
                if rel not in active and not retained(rel):
                    os.unlink(os.path.join(self.path, rel))
                    removed.append(rel)
        return sorted(removed)
