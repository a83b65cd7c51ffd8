"""Write side: write()/staging, the commit-time injectors (in-commit
timestamps, row tracking) and the one commit path, the conflict
resolver over the raw put-if-absent commit. The package docstring has
the protocol overview."""

from __future__ import annotations

import copy
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable
from typing import Any

from pyspark.errors import PySparkException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import _base
from ._base import (
    ConcurrentAppendError,
    ConcurrentDeleteDeleteError,
    ConcurrentDeleteReadError,
    ConcurrentTransactionError,
    ConcurrentWriteError,
    ConstraintViolationError,
    MetadataChangedError,
    ProtocolChangedError,
    SchemaMismatchError,
    Snapshot,
    _atomic_publish,
    _column_nonnull_count,
    _commit_timestamp,
    _metadata_action,
    _parse_partition_values,
    _remove_action,
    _state_actions,
)


class _CommitMixin:
    # -- write ----------------------------------------------------------

    def last_txn_version(self, app_id: str) -> int | None:
        """Highest ``txn`` version committed by ``app_id``, or None if
        the app never committed (or the table does not exist yet) —
        the read half of the protocol's streaming-idempotence ledger:
        a foreachBatch sink skips any batch id ≤ this value."""
        if not self.exists():
            return None
        return self.snapshot().app_versions.get(app_id)

    def write(
        self,
        df: DataFrame,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        overwrite_schema: bool = False,
        merge_schema: bool = False,
        txn: tuple[str, int] | None = None,
        replace_where: dict[str, Any] | None = None,
    ) -> int:
        """Commit ``df`` as the next table version; returns it.

        ``mode="overwrite"`` removes every previously active file in
        the same commit (the reference's full-rewrite materialization,
        02_silver_transform.py:33-35); ``mode="append"`` only adds,
        and a blind append that loses a put-if-absent race rebases past
        any winner but a metaData change, a protocol upgrade or a
        ``txn`` of the same app.
        Existing-table writes enforce the logged schema unless
        ``overwrite_schema=True`` (overwrite only), which commits a new
        ``metaData`` action — the ``overwriteSchema`` contract.

        ``merge_schema=True`` (append only) is the ``mergeSchema``
        contract: columns the incoming frame ADDS evolve the table
        schema (appended after the existing fields, nullable), while
        every existing column must still arrive with its logged type —
        widening only, never dropping. Older files simply lack the new
        columns; reads fill them with NULL, as every scan reads with
        the log's schema. The write also sets the
        ``minidelta.appendSchemaEvolved`` table property, which no
        reader consults. Refused on column-mapped tables (new fields
        would need physical-name assignment) and on partition-layout
        changes, like the real option.

        ``replace_where={col: value, ...}`` scopes an overwrite to the
        matching PARTITIONS (the ``replaceWhere`` contract): only
        active files whose ``partitionValues`` match are removed,
        every incoming row must match the filter (checked inside the
        write job — the real option rejects strays too), and a lost
        put-if-absent race REBASES when the winner left the scoped
        partitions untouched — two concurrent daily-partition
        backfills over disjoint dates both land; overlapping ones
        still raise ConcurrentWriteError.

        ``txn=(app_id, version)`` stamps the commit with the
        protocol's ``txn`` action, recording that this application has
        committed through ``version`` — the ledger a streaming sink
        consults (``last_txn_version``) to make epoch replays
        idempotent. The stamp rides in the SAME atomic commit as the
        data, so a replayed epoch either fully committed (and is
        skipped) or never happened — there is no torn state."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"unsupported mode: {mode}")
        if merge_schema and mode != "append":
            raise ValueError("merge_schema applies to mode='append' only")
        replaces_schema = overwrite_schema and mode == "overwrite"
        tbl_exists = self.exists()
        prior = self.snapshot() if tbl_exists else None
        if prior is not None:
            self._assert_writer_features(prior)
            if mode == "overwrite":
                self._assert_not_append_only(prior, "overwrite")
        evolved_append: T.StructType | None = None
        # True only when the evolution ADDED columns — a pure type
        # widening sets evolved_append for the metaData commit but
        # not the appendSchemaEvolved marker
        evolved_added_cols = False
        if (
            prior is not None
            and overwrite_schema
            and self._mapping_enabled(prior)
        ):
            raise NotImplementedError(
                "overwrite_schema on a column-mapped table is not "
                "supported (new fields would need physical-name "
                "assignment); evolve with rename_column/drop_column"
            )
        if replace_where is not None:
            if mode != "overwrite" or overwrite_schema:
                raise ValueError(
                    "replace_where requires mode='overwrite' without "
                    "overwrite_schema"
                )
            if prior is None:
                raise FileNotFoundError(
                    f"replace_where needs an existing table: {self.path}"
                )
            missing = sorted(
                set(replace_where) - set(prior.partition_columns)
            )
            if missing:
                raise SchemaMismatchError(
                    f"replace_where keys {missing} are not partition "
                    f"columns {prior.partition_columns}"
                )
            # the hive string domain partitionValues are logged in
            # (same rule as files_for)
            replace_where = {
                k: None if v is None else str(v)
                for k, v in replace_where.items()
            }
        # identity columns: an identity-omitting batch gets values
        # assigned (watermark + k*step via the two-pass distributed
        # row number) and this commit restates the advanced watermark;
        # GENERATED ALWAYS rejects writer-provided values, BY DEFAULT
        # accepts them and bumps the watermark past them
        identity_hwms: dict[str, int] = {}
        # identity columns whose watermark derives from the STAGED
        # files' footer stats after the write lands — both the
        # writer-assigned (sparse-assignment) and the BY DEFAULT
        # explicit-value cases: a pre-write aggregate job would
        # re-evaluate the frame, and a non-deterministic input
        # (rand(), sampling, unstable shuffle) could stage values
        # past the collected extreme, leaving the watermark behind
        # and letting a later identity-omitting append mint
        # duplicate ids. Deriving from what was actually staged also
        # removes the extra aggregate job.
        identity_pending: dict[str, dict] = {}
        identity_explicit: dict[str, dict] = {}
        # an explicit schema evolution REPLACES the metaData, so the
        # prior schema's generated, defaulted and identity columns must
        # not be injected into (or reordered onto) the evolved frame —
        # a dropped or redefined generated column would otherwise
        # silently resurrect, or fail on a stale expression whose
        # inputs the evolution removed
        if prior is not None and not replaces_schema:
            types = {f.name: f.dataType for f in prior.schema}
            fills = {
                **self._generation_exprs(prior.schema),
                **self._default_exprs(prior.schema),
            }
            for name, sql in fills.items():
                if name not in df.columns:
                    # the writer omitted a generated column (computed:
                    # the protocol's convenience half) or a defaulted
                    # one (filled; provided values pass as-is)
                    df = df.withColumn(name, F.expr(sql).cast(types[name]))
            identities = self._identity_fields(prior.schema)
            for iname, fmeta in identities.items():
                if iname not in df.columns:
                    df, _ = self._assign_identity(df, iname, fmeta)
                    identity_pending[iname] = fmeta
                elif not fmeta.get(self._ID_EXPLICIT):
                    raise ValueError(
                        f"column {iname!r} is GENERATED ALWAYS AS "
                        "IDENTITY: writer-provided values are "
                        "rejected (declare it with "
                        "allow_explicit=True for BY DEFAULT semantics)"
                    )
                else:
                    identity_explicit[iname] = fmeta
            # realign column ORDER for a batch carrying such columns —
            # provided or injected — so a writer listing the table's
            # columns in another order does not fall through to the
            # schema comparison and a spurious SchemaMismatchError
            if (fills or identities) and set(df.columns) == set(types):
                df = df.select(*types)
        if prior is not None:
            if (
                partition_by is not None
                and list(partition_by) != prior.partition_columns
                and not replaces_schema
            ):
                # real Delta rejects partition-layout changes outside
                # overwrite+overwriteSchema: mixing hive layouts under
                # one root breaks partition discovery on read and makes
                # files_for() pruning silently exclude the old files
                raise SchemaMismatchError(
                    f"partition columns {list(partition_by)} differ from "
                    f"the table's {prior.partition_columns}; pass "
                    "overwrite_schema=True with mode='overwrite' to "
                    "change the partition layout"
                )
            partition_by = partition_by or prior.partition_columns
            same = [(f.name, f.dataType) for f in df.schema] == [
                (f.name, f.dataType) for f in prior.schema
            ]
            if not same:
                if merge_schema and mode == "append":
                    if self._mapping_enabled(prior):
                        raise NotImplementedError(
                            "merge_schema on a column-mapped table is "
                            "not supported (new fields need physical-"
                            "name assignment); evolve via "
                            "overwrite_schema instead"
                        )
                    prior_types = {f.name: f.dataType for f in prior.schema}
                    df_types = {f.name: f.dataType for f in df.schema}
                    missing = sorted(set(prior_types) - set(df_types))
                    if missing:
                        raise SchemaMismatchError(
                            "merge_schema append may ADD columns, "
                            f"never drop: missing {missing}"
                        )
                    conflict = sorted(
                        n
                        for n, t in prior_types.items()
                        if df_types[n] != t
                    )
                    tw_on = (
                        prior.configuration.get(self._TW_KEY) == "true"
                    )
                    widened: dict[str, T.DataType] = {}
                    for n in conflict:
                        if self._is_type_widening(
                            df_types[n], prior_types[n]
                        ):
                            # NARROWER input (int batch into a long
                            # column): safe upcast of the batch to the
                            # table type — enforcement, not evolution
                            df = df.withColumn(
                                n, F.col(n).cast(prior_types[n])
                            )
                        elif tw_on and self._is_type_widening(
                            prior_types[n], df_types[n]
                        ):
                            # WIDER input under the typeWidening
                            # feature: the TABLE evolves (protocol
                            # "Type Widening"); old files upcast
                            # in-scan via the explicit read schema
                            widened[n] = df_types[n]
                        else:
                            hint = (
                                f" ({n} would widen: enable the "
                                "typeWidening feature via "
                                "enable_type_widening() to accept it)"
                                if self._is_type_widening(
                                    prior_types[n], df_types[n]
                                )
                                else ""
                            )
                            raise SchemaMismatchError(
                                "merge_schema append cannot change "
                                f"existing column types: {conflict}"
                                + hint
                            )
                    new_fields = [
                        T.StructField(f.name, f.dataType, True)
                        for f in df.schema
                        if f.name not in prior_types
                    ]
                    if not new_fields and not widened:
                        # merely REORDERED (or safely upcast) columns,
                        # nothing new: align to the table schema and
                        # write as a plain append, with no no-op
                        # metaData action
                        df = df.select(*[f.name for f in prior.schema])
                    else:
                        base_fields = []
                        for f in prior.schema:
                            if f.name in widened:
                                # record the change in the field's
                                # metadata, the protocol's
                                # delta.typeChanges shape — reads key
                                # explicit-schema upcasting off it,
                                # and time travel to an older version
                                # naturally reads the narrow type
                                md = dict(f.metadata or {})
                                changes = list(
                                    md.get(self._TYPE_CHANGES_META, [])
                                )
                                changes.append(
                                    {
                                        "fromType": (
                                            f.dataType.simpleString()
                                        ),
                                        "toType": (
                                            widened[f.name].simpleString()
                                        ),
                                        "tableVersion": prior.version + 1,
                                    }
                                )
                                md[self._TYPE_CHANGES_META] = changes
                                base_fields.append(
                                    T.StructField(
                                        f.name, widened[f.name], True, md
                                    )
                                )
                            else:
                                base_fields.append(f)
                        evolved_append = T.StructType(
                            base_fields + new_fields
                        )
                        evolved_added_cols = bool(new_fields)
                        df = df.select(*[f.name for f in evolved_append])
                elif not replaces_schema:
                    raise SchemaMismatchError(
                        "write schema differs from table schema "
                        f"(table {prior.schema.simpleString()}, "
                        f"write {df.schema.simpleString()}); pass "
                        "overwrite_schema=True with mode='overwrite' "
                        "to evolve (or merge_schema=True with "
                        "mode='append' to add columns)"
                    )
        partition_by = partition_by or []
        # the schema this commit leaves: evolved, kept (with its field
        # metadata) or replaced by the frame's
        if evolved_append is not None:
            schema = evolved_append
        elif prior is not None and not replaces_schema:
            schema = prior.schema
        else:
            schema = df.schema
        # CHECK constraints live in the configuration, which SURVIVES a
        # schema evolution (the new metaData restates it below).
        # Generation expressions live in the prior schema's field
        # metadata, which an explicit evolution REPLACES — skipped
        # exactly when the injection block above is.
        invariants = [] if prior is None else self._invariants(
            prior.configuration,
            T.StructType() if replaces_schema else schema,
            df.columns,
            replace_where,
        )
        adds = self._stage(df, schema, partition_by, invariants)
        for iname, fmeta in {**identity_pending, **identity_explicit}.items():
            # the staged files' own footer stats carry the extreme
            # assigned/provided value — the watermark advance costs
            # zero jobs and reflects exactly what was committed
            step = int(fmeta[self._ID_STEP])
            key = "maxValues" if step > 0 else "minValues"
            pname = self._phys_column(prior.schema, iname)
            vals = []
            for a in adds:
                st = json.loads(a["stats"]) if a.get("stats") else None
                if st is not None and int(st.get("numRecords", 0) or 0) == 0:
                    continue  # verifiably empty file
                v = None if st is None else st.get(key, {}).get(pname)
                if v is None:
                    # No usable min/max for this file. "All-NULL"
                    # (legal for BY DEFAULT explicit values — nothing
                    # to advance past) must be DISTINGUISHED from
                    # "stat unavailable" (footer-read error, or one
                    # stat-less row group poisoning the column in
                    # _file_stats_json): silently treating the latter
                    # as all-NULL leaves the watermark behind the
                    # committed values, and a later identity-omitting
                    # append would mint duplicate ids.
                    apath = os.path.join(self.path, a["path"])
                    nonnull = _column_nonnull_count(apath, pname)
                    if nonnull == 0:
                        if iname in identity_explicit:
                            continue  # verifiably all-NULL file
                        raise RuntimeError(
                            f"assigned identity column {iname!r} came "
                            f"back all-NULL in staged file "
                            f"{a['path']!r} — writer bug"
                        )
                    # non-null values exist (or the footer can't say):
                    # recover the true extreme with one bounded
                    # single-file aggregate over the staged file —
                    # O(one file), only on this rare fallback path
                    agg = F.max if step > 0 else F.min
                    row = (
                        self.spark.read.parquet(apath)
                        .agg(agg(F.col(pname)))
                        .first()
                    )
                    if row is None or row[0] is None:
                        if iname in identity_explicit:
                            continue  # all-NULL after all
                        raise RuntimeError(
                            "identity watermark needs a value for "
                            f"{iname!r}; none recoverable from "
                            f"{a['path']!r}"
                        )
                    vals.append(int(row[0]))
                else:
                    vals.append(int(v))
            if vals:
                ext = max(vals) if step > 0 else min(vals)
                hwm = fmeta.get(self._ID_HWM)
                # only-advance: explicit values BELOW the watermark
                # must not rewind it (assigned values are always past
                # it, so the guard is a no-op for that case)
                if (
                    hwm is None
                    or (step > 0 and ext > int(hwm))
                    or (step < 0 and ext < int(hwm))
                ):
                    identity_hwms[iname] = ext
        new_meta = (
            prior is None
            or overwrite_schema
            or evolved_append is not None
            or partition_by != prior.partition_columns
        )
        meta_schema = schema
        if identity_hwms:
            # the advanced watermark rides THIS commit's metaData —
            # atomically with the rows it covers, so a crash between
            # the two can never replay ids
            meta_schema = T.StructType(
                [
                    (
                        T.StructField(
                            f.name,
                            f.dataType,
                            f.nullable,
                            {
                                **(f.metadata or {}),
                                self._ID_HWM: identity_hwms[f.name],
                            },
                        )
                        if f.name in identity_hwms
                        else f
                    )
                    for f in schema
                ]
            )
            new_meta = True
        now_ms = int(time.time() * 1000)
        actions: list[dict[str, Any]] = []
        if prior is None:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
        if new_meta:
            # table properties (CHECK constraints included) survive a
            # schema evolution
            config = dict(prior.configuration if prior else {})
            if evolved_added_cols:
                config[self._EVOLVED_KEY] = "true"
            actions.append(
                _metadata_action(
                    # only the table-creating write names the table
                    str(uuid.uuid4()) if prior is None else prior.table_id,
                    meta_schema,
                    partition_by,
                    config,
                    now_ms,
                )
            )
        if txn is not None:
            actions.append(
                {"txn": {"appId": str(txn[0]), "version": int(txn[1])}}
            )
        parameters = {
            "mode": mode.upper(),
            "partitionBy": json.dumps(partition_by),
        }
        if replace_where is not None:
            parameters["replaceWhere"] = json.dumps(
                replace_where, sort_keys=True
            )
        reads = None  # a blind append reads (and removes) nothing
        if mode == "overwrite" and prior is not None:
            # an overwrite reads the replace_where partitions, else
            # every file, and removes exactly what it read
            scope = replace_where or {}

            def reads(add: dict[str, Any]) -> bool:
                values = add.get("partitionValues") or {}
                return all(values.get(k) == v for k, v in scope.items())

            actions.extend(
                _remove_action(add, now_ms)
                for _, add in sorted(prior.files.items())
                if reads(add)
            )
        actions.extend({"add": add} for add in adds)
        return self._commit_resolving(
            prior,
            actions,
            "WRITE",
            parameters,
            reads=reads,
            staged=[add["path"] for add in adds],
        )

    _INVARIANT_MARK = "[minidelta.invariant {}] {}"

    def _stage(
        self,
        df: DataFrame,
        schema: T.StructType,
        partition_by: list[str],
        invariants: list[tuple[str, str, Column]] = (),
        extra_cols: tuple[str, ...] = (),
        max_records_per_file: int | None = None,
    ) -> list[dict[str, Any]]:
        """Stage ``df`` (logical names) as data files under ``schema``'s
        PHYSICAL names, so renamed columns keep their on-disk identity;
        every writer reaches storage here. Each of ``invariants``
        (``_invariants``) rides the same projection as a ``raise_error``
        on a written column — never a Filter, which the optimizer may
        push below a join onto rows that are never written — so the
        write job itself refuses a violating row, surfaced as
        ConstraintViolationError. ``extra_cols`` pass through verbatim
        (row tracking's materialized row ids). With nothing to rename,
        check or add, ``df`` is written as it is."""
        mapping = {f.name: self._phys(f) for f in schema}
        if invariants or extra_cols or any(
            k != v for k, v in mapping.items()
        ):
            # partition columns are guarded physical == logical
            # (rename_column refuses them), so hive paths stay put
            cols = [F.col(f.name) for f in schema]
            at = next(
                (i for i, f in enumerate(schema)
                 if f.name not in partition_by),
                0,
            )
            for name, description, ok in reversed(invariants):
                marker = self._INVARIANT_MARK.format(name, description)
                refuse = F.raise_error(F.lit(marker))
                cols[at] = F.when(~ok, refuse).otherwise(cols[at])
            df = df.select(
                *[c.alias(mapping[f.name]) for c, f in zip(cols, schema)],
                *extra_cols,
            )
        try:
            return self._stage_data_files(
                df, partition_by, max_records_per_file=max_records_per_file
            )
        except PySparkException as exc:
            for name, description, _ in invariants:
                if self._INVARIANT_MARK.format(name, description) in str(exc):
                    raise ConstraintViolationError(
                        f"write violates {description}"
                    ) from exc
            raise

    def _stage_data_files(
        self,
        df: DataFrame,
        partition_by: list[str],
        max_records_per_file: int | None = None,
    ) -> list[dict[str, Any]]:
        """Write the data through the stock Spark parquet writer into a
        temp dir, then move the part files into the table root
        (preserving hive partition subdirs) and return their ``add``
        payloads. Distributed write first, driver-side metadata move
        second — the move touches one inode per FILE, never data. The
        temp dir goes whether the write succeeds or fails."""
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f".staging-{uuid.uuid4().hex}")
        writer = df.write.mode("overwrite").format("parquet")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        adds: list[dict[str, Any]] = []
        try:
            writer.save(tmp)
            for root, _dirs, names in os.walk(tmp):
                for name in names:
                    if name.startswith((".", "_")) or not name.endswith(
                        ".parquet"
                    ):
                        continue
                    src = os.path.join(root, name)
                    rel = os.path.relpath(src, tmp)
                    dst = os.path.join(self.path, rel)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.replace(src, dst)
                    st = os.stat(dst)
                    adds.append(
                        {
                            "path": rel,
                            "partitionValues": _parse_partition_values(rel),
                            "size": st.st_size,
                            "modificationTime": int(st.st_mtime * 1000),
                            "dataChange": True,
                            # per-file min/max from the footer the
                            # writer just produced — fuels data
                            # skipping (files_for_range)
                            "stats": _base._file_stats_json(dst),
                        }
                    )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return adds

    def _discard(self, staged: list[str]) -> None:
        """Delete staged data files and ``_dv/`` sidecar dirs that no
        commit references."""
        for rel in staged:
            path = os.path.join(self.path, rel)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            elif os.path.exists(path):
                os.remove(path)

    def _predecessor(self, version: int) -> list[dict[str, Any]]:
        """The actions of commit ``version - 1``, which the commit-time
        injectors chain from: a commit on a table with in-commit
        timestamps or row tracking restates its ICT and its row-id
        watermark, so the next commit detects either feature from its
        predecessor alone. When that JSON has been expired, the latest
        snapshot's metaData and domainMetadata state actions stand in
        for it."""
        if version == 0:
            return []
        try:
            return self._read_actions(version - 1)
        except OSError:
            snap = self.snapshot()
            tracking = snap.configuration.get(self._RT_KEY) == "true"
            return [
                a
                for a in _state_actions(snap)
                if "metaData" in a
                or (
                    "domainMetadata" in a
                    # a switched-off table keeps its row-id domain,
                    # but its predecessor would not have restated it
                    and (
                        tracking
                        or a["domainMetadata"]["domain"] != self._RT_DOMAIN
                    )
                )
            ]

    _ICT_KEY = "delta.enableInCommitTimestamps"

    def _inject_in_commit_timestamp(
        self, actions: list[dict[str, Any]], prev: list[dict[str, Any]]
    ) -> None:
        """When the table feature is on, stamp this commit's
        ``commitInfo`` with a MONOTONIC ``inCommitTimestamp`` =
        max(clock now, previous commit's effective timestamp + 1) —
        the protocol's in-commit-timestamps contract (PROTOCOL.md
        "In-Commit Timestamps"): readers then trust the log, not file
        mtimes or writer clocks, so time travel can never be reordered
        by clock skew. Feature detection is O(1): the enabling commit
        carries a metaData action with the config flag; every later
        commit sees its predecessor ``prev``'s ICT (the chain
        property)."""
        info = next(
            (a["commitInfo"] for a in actions if "commitInfo" in a), None
        )
        if info is None or "inCommitTimestamp" in info:
            return
        prev_info = next(
            (a["commitInfo"] for a in prev if "commitInfo" in a), {}
        )
        # this commit's own metaData decides, else the predecessor's
        # (an expired predecessor's stand-in restates the config)
        meta = next(
            (a["metaData"] for a in [*actions, *prev] if "metaData" in a),
            None,
        )
        enabled = (
            "inCommitTimestamp" in prev_info
            if meta is None
            else meta.get("configuration", {}).get(self._ICT_KEY) == "true"
        )
        if not enabled:
            return
        info["inCommitTimestamp"] = max(
            int(time.time() * 1000), _commit_timestamp(prev_info) + 1
        )

    _RT_KEY = "delta.enableRowTracking"
    _RT_MAT_KEY = "delta.rowTracking.materializedRowIdColumnName"
    _RT_DOMAIN = "delta.rowTracking"
    _RT_MAT_TAG = "delta.rowTracking.materialized"

    def _inject_row_tracking(
        self, actions: list[dict[str, Any]], prev: list[dict[str, Any]]
    ) -> None:
        """When row tracking is on, assign ``baseRowId`` to every add
        action that lacks one (fresh files: row id = baseRowId + file
        row index, the protocol's fresh-row-id formula) and restate
        the row-id high watermark as a ``domainMetadata`` action
        (domain ``delta.rowTracking``) — PROTOCOL.md "Row Tracking".
        Restating the domain every commit keeps feature detection O(1)
        (the chain property, same trick as the ICT injector): the
        enabling commit carries the metaData flag, every later commit
        sees its predecessor ``prev``'s domainMetadata. Re-committed
        adds (DV re-adds, bloom tag re-commits, RESTORE, checkpoint
        restates) carry their original baseRowId in the copied
        payload, so the assignment is idempotent."""
        if any(
            a.get("domainMetadata", {}).get("domain") == self._RT_DOMAIN
            for a in actions
        ):
            return  # caller managed the ROW-TRACKING domain itself
            # (enable path); an unrelated domainMetadata action must
            # not suppress baseRowId assignment, or later
            # read(with_row_ids=True) raises on adds without one
        prev_dm = next(
            (
                dm.get("configuration")
                for dm in (a.get("domainMetadata") for a in prev)
                if dm and dm["domain"] == self._RT_DOMAIN
                and not dm.get("removed")
            ),
            None,
        )
        meta = next((a["metaData"] for a in actions if "metaData" in a), None)
        enabled = (
            prev_dm is not None
            if meta is None
            else meta.get("configuration", {}).get(self._RT_KEY) == "true"
        )
        if not enabled:
            return
        if prev_dm is None and meta is not None and prev:
            # a metadata commit turning row tracking back on (set after
            # unset, RESTORE across the enable): its predecessor did
            # not restate the watermark, but the snapshot still holds it
            prev_dm = self.snapshot().domain_metadata.get(self._RT_DOMAIN)
        hwm = -1
        if prev_dm:
            hwm = int(json.loads(prev_dm).get("rowIdHighWaterMark", -1))
        for a in actions:
            add = a.get("add")
            if add is None or add.get("baseRowId") is not None:
                continue
            stats = json.loads(add["stats"]) if add.get("stats") else {}
            n = stats.get("numRecords")
            if n is None:
                raise RuntimeError(
                    "row tracking requires numRecords stats on every "
                    f"add; missing for {add['path']!r}"
                )
            add["baseRowId"] = hwm + 1
            hwm += int(n)
        actions.append(
            {
                "domainMetadata": {
                    "domain": self._RT_DOMAIN,
                    "configuration": json.dumps(
                        {"rowIdHighWaterMark": hwm}
                    ),
                    "removed": False,
                }
            }
        )

    def _commit_resolving(
        self,
        snap: Snapshot | None,
        actions: list[dict[str, Any]],
        operation: str,
        parameters: dict[str, Any],
        isolation: str = "write_serializable",
        reads: Callable[[dict[str, Any]], bool] | None = None,
        staged: list[str] = (),
    ) -> int:
        """Commit ``actions`` at ``snap.version + 1`` (version 0 when
        ``snap`` is None: a table-creating commit) behind a
        ``commitInfo`` naming ``operation`` and ``parameters``: the
        one commit path every writer takes. A lost put-if-absent race
        resolves with the public Delta protocol's conflict rules:
        replay every winning commit's actions against this
        transaction's READ and REMOVE sets and either REBASE (retry
        verbatim at the next version — the staged files are already
        on disk and still valid) or raise the matching typed conflict:

        * ``protocol`` action        → :class:`ProtocolChangedError`
          (unless it restates exactly the gates this transaction's
          read snapshot already held — a no-op restate changes
          nothing the loser depended on)
        * ``metaData`` action        → :class:`MetadataChangedError`
        * ``txn`` for our app id     → :class:`ConcurrentTransactionError`
        * remove ∩ our removes       → :class:`ConcurrentDeleteDeleteError`
        * remove of a file we read   → :class:`ConcurrentDeleteReadError`
        * dataChange add our read predicate matches, or any dataChange
          add under ``isolation="serializable"`` when we read
          anything                   → :class:`ConcurrentAppendError`
          (the default ``write_serializable`` level admits blind
          appends against DML — Delta's documented anomaly)

        The REMOVE set is derived from ``actions`` (their remove
        paths). ``reads`` is the read set as a predicate over ``add``
        payloads (the protocol's read-predicate model); it defaults to
        the remove set — the touched-file model of predicate DML,
        where untouched files neither constrain nor are constrained by
        the winner, and a blind append, which removes nothing, reads
        nothing. A table-creating commit never rebases: the lost race
        surfaces as is. An identity-assigning write needs no exception:
        the watermark it advanced was read from the snapshot's
        ``metaData``, and any winner that advanced it too committed
        ``metaData``, which conflicts. Each attempt re-commits a pristine deep copy of
        ``actions`` so the commit-time injectors (row-id assignment
        against the WINNER's high watermark, in-commit timestamps
        against the winner's clock chain) always compute against the
        true predecessor. A rebase reuses the files and sidecars named
        in ``staged``; a typed conflict deletes them, and nothing else
        does (a commit may fail after its version is published)."""
        if isolation not in ("write_serializable", "serializable"):
            raise ValueError(
                "isolation must be 'write_serializable' or "
                f"'serializable', got {isolation!r}"
            )
        if snap is not None:
            self._assert_writer_features(snap)
        pristine: list[dict[str, Any]] = [
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "operation": operation,
                    "operationParameters": parameters,
                }
            },
            *actions,
        ]
        removed = {
            a["remove"]["path"] for a in actions if "remove" in a
        }
        if reads is None:
            def reads(add: dict[str, Any]) -> bool:
                return add["path"] in removed

        my_apps = {a["txn"]["appId"] for a in actions if "txn" in a}
        version = 0 if snap is None else snap.version + 1
        attempts = 0
        try:
            while True:
                try:
                    self._commit(version, copy.deepcopy(pristine))
                    return version
                except ConcurrentWriteError:
                    attempts += 1
                    latest = max(self.versions(), default=-1)
                    if snap is None or latest < version:
                        raise
                    read_any = isolation == "serializable" and any(
                        map(reads, snap.files.values())
                    )
                    winners = (
                        (w, a)
                        for w in range(version, latest + 1)
                        for a in self._read_actions(w)
                    )
                    for w, a in winners:
                        won = a.get("protocol")
                        # a protocol action that merely RESTATES the gates
                        # this transaction already read is not a protocol
                        # change — only an actual upgrade invalidates the
                        # loser's snapshot (belt to _dv_commit_inner's
                        # emit-only-on-upgrade braces: a foreign writer's
                        # restate must not break the conflict matrix
                        # either)
                        if won and (
                            int(won.get("minReaderVersion", 1)),
                            int(won.get("minWriterVersion", 1)),
                            frozenset(won.get("readerFeatures") or ()),
                            frozenset(won.get("writerFeatures") or ()),
                        ) != (
                            snap.min_reader,
                            snap.min_writer,
                            snap.reader_features,
                            snap.writer_features,
                        ):
                            raise ProtocolChangedError(
                                f"{operation} lost to a protocol upgrade at "
                                f"version {w}",
                                winning_version=w,
                            )
                        if "metaData" in a:
                            raise MetadataChangedError(
                                f"{operation} lost to a metadata change at "
                                f"version {w}",
                                winning_version=w,
                            )
                        txn = a.get("txn")
                        if txn and txn.get("appId") in my_apps:
                            raise ConcurrentTransactionError(
                                f"{operation} lost to a concurrent "
                                f"transaction for app {txn['appId']!r} at "
                                f"version {w}",
                                winning_version=w,
                            )
                        rm = (a.get("remove") or {}).get("path")
                        if rm in removed:
                            raise ConcurrentDeleteDeleteError(
                                f"{operation} and the version-{w} winner "
                                f"both remove {rm!r}",
                                winning_version=w,
                            )
                        if rm in snap.files and reads(snap.files[rm]):
                            raise ConcurrentDeleteReadError(
                                f"version-{w} winner removed {rm!r}, which "
                                f"{operation} read",
                                winning_version=w,
                            )
                        add = a.get("add")
                        if (
                            add
                            and add.get("dataChange", True)
                            and (read_any or reads(add))
                        ):
                            raise ConcurrentAppendError(
                                f"version-{w} winner appended "
                                f"{add['path']!r} into what {operation} read",
                                winning_version=w,
                            )
                    if attempts >= 50:
                        raise
                    version = latest + 1
        except ConcurrentWriteError:
            self._discard(staged)
            raise

    def _commit(self, version: int, actions: list[dict[str, Any]]) -> None:
        prev = self._predecessor(version)
        self._inject_row_tracking(actions, prev)
        self._inject_in_commit_timestamp(actions, prev)
        os.makedirs(self.log_dir, exist_ok=True)
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w", encoding="utf-8") as fh:
            for action in actions:
                fh.write(json.dumps(action, separators=(",", ":")) + "\n")
        _atomic_publish(tmp, self._version_file(version))
        self._maybe_checkpoint(version)

