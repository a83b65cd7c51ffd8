"""Table features and schema management: constraints, generated/default/identity columns, protocol feature lists, properties, bloom index, column mapping.

One mixin of ``MiniDeltaTable``, assembled by the package ``__init__``,
whose docstring has the protocol overview."""

from __future__ import annotations

import dataclasses
import json
import os
import time
import uuid
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._base import (
    ConstraintViolationError,
    SchemaMismatchError,
    Snapshot,
    _all_match,
    _every_file,
    _metadata_action,
    _remove_action,
    _stats_overlap,
)


class _FeaturesMixin:
    # -- table operations on top of the log ------------------------------

    @staticmethod
    def _invariants(
        configuration: dict[str, str],
        schema: T.StructType,
        columns: list[str],
        replace_where: dict[str, Any] | None = None,
    ) -> list[tuple[str, str, Column]]:
        """``(name, description, ok)`` for each invariant a frame with
        ``columns`` must hold: every ``delta.constraints.<name>`` CHECK
        (NULL passes — SQL semantics), every generated column of
        ``schema`` in ``columns`` (null-safe equal to its expression)
        and a ``replace_where`` filter of hive partition strings
        (null-safe)."""
        out = []
        for key, sql in configuration.items():
            if key.startswith("delta.constraints."):
                name = key.removeprefix("delta.constraints.")
                ok = F.coalesce(F.expr(sql), F.lit(True))
                out.append((name, f"CHECK constraint {name} ({sql})", ok))
        types = {f.name: f.dataType for f in schema}
        for name, sql in _FeaturesMixin._generation_exprs(schema).items():
            if name in columns:
                ok = F.col(name).eqNullSafe(F.expr(sql).cast(types[name]))
                what = f"generated column {name} (GENERATED AS {sql})"
                out.append((name, what, ok))
        if replace_where is not None:
            ok = _all_match(
                [
                    F.col(k).cast("string").eqNullSafe(F.lit(v))
                    for k, v in replace_where.items()
                ]
            )
            what = f"replace_where {replace_where} (a row outside it)"
            out.append(("replace_where", what, ok))
        return out

    @staticmethod
    def _generation_exprs(schema: T.StructType) -> dict[str, str]:
        """column -> generation expression, from the schema fields'
        metadata (the protocol stores generated columns as
        ``delta.generationExpression`` in the column metadata)."""
        out = {}
        for f in schema:
            expr = (f.metadata or {}).get("delta.generationExpression")
            if expr:
                out[f.name] = expr
        return out

    def set_generated_column(self, name: str, sql: str) -> int:
        """Declare ``name`` a GENERATED column: its value is always
        ``sql`` over the other columns. Existing rows are validated
        first (like ADD CONSTRAINT); afterwards every write either
        computes the column (when the incoming frame omits it) or
        validates that the provided values match — the protocol's
        generated-columns contract, which is what makes derived
        partition columns (``date(ts)`` and friends) trustworthy for
        pruning."""
        snap = self.snapshot()
        if name not in {f.name for f in snap.schema}:
            raise SchemaMismatchError(
                f"generated column {name!r} is not in the table schema"
            )
        fields = []
        for f in snap.schema:
            if f.name == name:
                meta = dict(f.metadata or {})
                meta["delta.generationExpression"] = sql
                fields.append(
                    T.StructField(f.name, f.dataType, f.nullable, meta)
                )
            else:
                fields.append(f)
        [check] = self._invariants({}, T.StructType(fields), [name])
        self._refuse_existing(check, f"declare {name!r} generated as {sql!r}")
        return self._commit_schema(
            snap,
            T.StructType(fields),
            snap.configuration,
            "SET GENERATED COLUMN",
            {"name": name, "expr": sql},
        )

    def _refuse_existing(
        self, invariant: tuple[str, str, Column], what: str
    ) -> None:
        """Refuse ``what`` when current rows break ``invariant`` — one
        counting job, as a metadata command stages no rows."""
        bad = self.read().filter(~invariant[2]).count()
        if bad:
            raise ConstraintViolationError(
                f"cannot {what}: {bad} existing row(s) violate "
                f"{invariant[1]}"
            )

    @staticmethod
    def _default_exprs(schema: T.StructType) -> dict[str, str]:
        """name -> default SQL for columns declaring one (the column
        defaults feature's ``CURRENT_DEFAULT`` metadata key)."""
        out = {}
        for f in schema:
            expr = (f.metadata or {}).get("CURRENT_DEFAULT")
            if expr:
                out[f.name] = expr
        return out

    def set_column_default(self, name: str, sql: str) -> int:
        """ALTER TABLE ... ALTER COLUMN ... SET DEFAULT: writes that
        OMIT the column from here on fill it with ``sql`` (cast to the
        column's logged type); provided values are taken as-is —
        unlike a generated column, a default is a convenience, not an
        invariant. The expression is stored under the public column
        defaults feature's ``CURRENT_DEFAULT`` metadata key and must
        be constant-foldable (no column references — validated here,
        like the real feature's restriction). Existing files are
        untouched (this subset fills at WRITE time only; the reads-of-
        older-files half, EXISTS_DEFAULT, applies to ADD COLUMN with
        default, which this mini table does not do)."""
        snap = self.snapshot()
        if name not in {f.name for f in snap.schema}:
            raise SchemaMismatchError(
                f"default column {name!r} is not in the table schema"
            )
        if name in snap.partition_columns:
            raise SchemaMismatchError(
                f"cannot set a default on partition column {name!r}"
            )
        # constant-foldable check: evaluating against a zero-column
        # row errors on any column reference
        try:
            self.spark.range(1).select(F.expr(sql)).collect()
        except Exception as exc:
            raise ValueError(
                f"default for {name!r} must be a constant-foldable "
                f"expression with no column references: {sql!r} ({exc})"
            ) from None
        fields = []
        for f in snap.schema:
            if f.name == name:
                meta = dict(f.metadata or {})
                meta["CURRENT_DEFAULT"] = sql
                fields.append(
                    T.StructField(f.name, f.dataType, f.nullable, meta)
                )
            else:
                fields.append(f)
        return self._commit_schema(
            snap,
            T.StructType(fields),
            dict(snap.configuration),
            "SET COLUMN DEFAULT",
            {"name": name, "expr": sql},
            # column defaults are feature-only in the real protocol —
            # no legacy writer version carries them
            protocol=self._tf_upgrade(snap, set(), {"allowColumnDefaults"}),
        )

    def drop_column_default(self, name: str) -> int | None:
        """ALTER TABLE ... ALTER COLUMN ... DROP DEFAULT; None when
        the column has no default."""
        snap = self.snapshot()
        if name not in self._default_exprs(snap.schema):
            return None
        fields = []
        for f in snap.schema:
            if f.name == name:
                meta = {
                    k: v
                    for k, v in (f.metadata or {}).items()
                    if k != "CURRENT_DEFAULT"
                }
                fields.append(
                    T.StructField(f.name, f.dataType, f.nullable, meta)
                )
            else:
                fields.append(f)
        return self._commit_schema(
            snap,
            T.StructType(fields),
            dict(snap.configuration),
            "DROP COLUMN DEFAULT",
            {"name": name},
        )

    def add_column(
        self, name: str, dtype: T.DataType | str, default_sql: str | None = None
    ) -> int:
        """ALTER TABLE ... ADD COLUMN [DEFAULT ...]: metadata-only —
        zero files rewritten. Without a default, rows in files
        predating the column read back NULL (merge-schema null-fill).
        WITH a default, it sets BOTH halves of the public
        column-defaults feature (r13 stretch): the write half
        (``CURRENT_DEFAULT``, the expression — later writes OMITTING
        the column fill it) and the read half (``EXISTS_DEFAULT``, the
        expression's value at ADD time as a SQL literal — rows in
        files that PHYSICALLY LACK the column surface it instead of
        NULL, while a post-add file's explicitly stored NULL stays
        NULL: per-file presence decides, exactly Spark's ADD COLUMN
        DEFAULT contract). Every path that scans the table's files
        reads through the fill (:meth:`_scan`), so DML, the bloom
        build and ``changes()`` see the default, and compaction
        MATERIALIZES it into the rewritten files instead of burying a
        stored NULL. ALTER COLUMN SET DEFAULT on an EXISTING column
        intentionally does NOT gain EXISTS_DEFAULT (Spark freezes the
        read half at ADD time only — ``set_column_default`` keeps its
        write-only contract). Column-mapped tables refuse (the mini
        table's append evolution refuses there too)."""
        snap = self.snapshot()
        if isinstance(dtype, str):
            dtype = T.DataType.fromDDL(dtype)
        if name in {f.name for f in snap.schema}:
            raise SchemaMismatchError(
                f"column {name!r} already exists in the table schema"
            )
        if self._mapping_enabled(snap):
            raise NotImplementedError(
                "ADD COLUMN on a column-mapped table is not supported "
                "(physical-name assignment for post-hoc adds is not "
                "implemented); add the column before enabling mapping"
            )
        meta: dict[str, Any] = {}
        if default_sql is not None:
            # constant-foldable check, same restriction as
            # set_column_default: no column references
            try:
                folded = self.spark.range(1).select(
                    F.expr(default_sql).cast(dtype)
                )
                folded.collect()
            except Exception as exc:
                raise ValueError(
                    f"default for {name!r} must be a constant-foldable "
                    f"expression with no column references: "
                    f"{default_sql!r} ({exc})"
                ) from None
            # the read half is the VALUE at ADD time, logged as the
            # folded literal's SQL (Spark's EXISTS_DEFAULT): an
            # expression like current_timestamp() must not re-evaluate
            # on every read of the old rows
            value = (
                folded._jdf.queryExecution()
                .optimizedPlan()
                .expressions()
                .head()
                .child()
            )
            if not value.foldable():
                raise ValueError(
                    f"default for {name!r} must be a constant-foldable "
                    f"expression: {default_sql!r}"
                )
            meta["CURRENT_DEFAULT"] = default_sql
            meta["EXISTS_DEFAULT"] = value.sql()
        fields = list(snap.schema) + [
            T.StructField(name, dtype, True, meta)
        ]
        config = dict(snap.configuration)
        config[self._EVOLVED_KEY] = "true"
        return self._commit_schema(
            snap,
            T.StructType(fields),
            config,
            "ADD COLUMNS",
            {
                "columns": json.dumps(
                    [{"name": name, "type": dtype.simpleString()}]
                ),
                **(
                    {"default": default_sql}
                    if default_sql is not None
                    else {}
                ),
            },
            protocol=(
                self._tf_upgrade(snap, set(), {"allowColumnDefaults"})
                if default_sql is not None
                else None
            ),
        )

    def enable_in_commit_timestamps(self) -> int:
        """Enable the in-commit-timestamps table feature (PROTOCOL.md
        "In-Commit Timestamps"): from the NEXT commit on (this
        enabling commit included), every ``commitInfo`` carries a
        monotonic ``inCommitTimestamp`` — max(commit-time clock,
        previous effective timestamp + 1) — which time travel, the
        change feed, and ``history()`` consumers trust instead of
        writer clocks, so skewed writers can never reorder TIMESTAMP
        AS OF resolution. Mini subset: the provenance
        ``enablementVersion`` property is recorded; the optional
        ``enablementTimestamp`` is not (derivable from that commit's
        own ICT). Idempotent — re-enabling returns the current
        version."""
        snap = self.snapshot()
        if snap.configuration.get(self._ICT_KEY) == "true":
            return snap.version
        config = dict(snap.configuration)
        config[self._ICT_KEY] = "true"
        config["delta.inCommitTimestampEnablementVersion"] = str(
            snap.version + 1
        )
        return self._commit_configuration(
            snap,
            config,
            "SET TBLPROPERTIES",
            {"properties": json.dumps({self._ICT_KEY: "true"})},
            protocol=self._tf_upgrade(snap, set(), {"inCommitTimestamp"}),
        )

    @classmethod
    def _features_in_use(cls, snap: Snapshot) -> tuple[set, set]:
        """(readerFeatures, writerFeatures) the table's CURRENT state
        depends on — the enumeration a protocol upgrade to reader 3 /
        writer 7 must carry: the protocol requires a v7 protocol
        action to list EVERY feature in use, including ones that were
        riding legacy writer versions (check constraints, generated
        columns) before the upgrade. Seeds from the snapshot's
        existing lists so repeated upgrades stay cumulative."""
        r, w = set(snap.reader_features), set(snap.writer_features)
        cfg, schema = snap.configuration, snap.schema
        if any(a.get("deletionVector") for a in snap.files.values()):
            r.add("deletionVectors")
        if cfg.get("delta.columnMapping.mode") == "name":
            r.add("columnMapping")
        if cfg.get(cls._TW_KEY) == "true" or any(
            (f.metadata or {}).get(cls._TYPE_CHANGES_META) for f in schema
        ):
            r.add("typeWidening")
        if cfg.get(cls._CKPT_POLICY_KEY) == "v2":
            r.add("v2Checkpoint")
        if any(f.dataType.simpleString() == "timestamp_ntz" for f in schema):
            r.add("timestampNtz")
        if cfg.get(cls._ICT_KEY) == "true":
            w.add("inCommitTimestamp")
        if cfg.get(cls._RT_KEY) == "true":
            w.add("rowTracking")
        if snap.domain_metadata:
            w.add("domainMetadata")
        if cls._identity_fields(schema):
            w.add("identityColumns")
        if any(k.startswith("delta.constraints.") for k in cfg):
            w.add("checkConstraints")
        if cfg.get(cls._APPEND_ONLY_KEY) == "true":
            w.add("appendOnly")
        meta = [dict(f.metadata or {}) for f in schema]
        if any("delta.generationExpression" in m for m in meta):
            w.add("generatedColumns")
        if any("CURRENT_DEFAULT" in m for m in meta):
            w.add("allowColumnDefaults")
        # every reader feature is implicitly a writer feature too
        # (a writer that cannot maintain it would corrupt the table)
        return r, w | r

    def _tf_upgrade(
        self,
        snap: Snapshot,
        add_reader: set | frozenset = frozenset(),
        add_writer: set | frozenset = frozenset(),
    ) -> dict[str, Any] | None:
        """Protocol-action PAYLOAD moving the table to reader 3 /
        writer 7 with cumulative feature lists (the named features
        plus everything already in use), or ``None`` when the snapshot
        already carries both the versions and every requested name —
        emitting a no-op restate would make concurrent losers raise
        ProtocolChangedError where the conflict matrix promises a
        rebase."""
        r, w = self._features_in_use(snap)
        r |= set(add_reader)
        w |= set(add_writer) | r
        if (
            (snap.min_reader, snap.min_writer) == (3, 7)
            and r <= snap.reader_features
            and w <= snap.writer_features
        ):
            return None
        return {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(r),
            "writerFeatures": sorted(w),
        }

    def _assert_writer_features(self, snap: Snapshot) -> None:
        """The write-side half of the Table Features contract: a
        writer that does not understand every writerFeature would
        corrupt the invariants those features maintain (stale
        identity watermarks, unmaintained row ids, unenforced
        constraints) — refuse to commit, loudly."""
        unknown = frozenset(snap.writer_features) - self._WRITER_FEATURES_SUPPORTED
        if unknown:
            raise NotImplementedError(
                f"table requires writer features {sorted(unknown)} "
                "this writer does not support (supported: "
                f"{sorted(self._WRITER_FEATURES_SUPPORTED)}); "
                "reading the table is still allowed"
            )

    def _assert_not_append_only(self, snap: Snapshot, operation: str) -> None:
        """``delta.appendOnly=true`` (the protocol's append-only
        property, legacy writer 2 / table feature "appendOnly"): any
        commit that REMOVES rows — overwrite, DELETE, UPDATE, MERGE —
        must refuse; appends, OPTIMIZE (dataChange=false), and
        metadata commits stay allowed."""
        if snap.configuration.get(self._APPEND_ONLY_KEY) == "true":
            raise ValueError(
                f"{operation} is not allowed: this table is "
                f"configured {self._APPEND_ONLY_KEY}=true (only "
                "appends are accepted; unset the property to mutate)"
            )

    def set_table_property(self, key: str, value: str) -> int:
        """ALTER TABLE ... SET TBLPROPERTIES (key = value): the
        generic property commit. ``delta.appendOnly=true`` starts
        refusing row-removing commits from the NEXT version on (this
        is the real property's contract; it also joins the
        writerFeatures enumeration on any later 3/7 upgrade)."""
        snap = self.snapshot()
        config = dict(snap.configuration)
        config[str(key)] = str(value)
        protocol = None
        if (
            str(key) == self._APPEND_ONLY_KEY
            and str(value) == "true"
            and (snap.min_reader, snap.min_writer) == (3, 7)
        ):
            # a v7 table's writerFeatures must list EVERY feature in
            # use — a 3/7 table gaining appendOnly enumerates it on
            # THIS commit, not on some later unrelated upgrade (an
            # external feature-honoring writer would otherwise not
            # see it and keep deleting). Legacy-version tables stay
            # legacy: delta.appendOnly is a writer-2 property there,
            # and _features_in_use folds it in on any later upgrade.
            protocol = self._tf_upgrade(
                dataclasses.replace(snap, configuration=config),
                set(),
                {"appendOnly"},
            )
        return self._commit_configuration(
            snap,
            config,
            "SET TBLPROPERTIES",
            {"properties": json.dumps({str(key): str(value)})},
            protocol=protocol,
        )

    def unset_table_property(self, key: str) -> int | None:
        """ALTER TABLE ... UNSET TBLPROPERTIES; None when absent."""
        snap = self.snapshot()
        if key not in snap.configuration:
            return None
        config = {k: v for k, v in snap.configuration.items() if k != key}
        return self._commit_configuration(
            snap,
            config,
            "UNSET TBLPROPERTIES",
            {"properties": json.dumps([key])},
        )

    @classmethod
    def _identity_fields(cls, schema: T.StructType) -> dict[str, dict]:
        """name -> metadata for every identity column in the schema."""
        return {
            f.name: dict(f.metadata or {})
            for f in schema
            if (f.metadata or {}).get(cls._ID_START) is not None
        }

    def add_identity_column(
        self,
        name: str,
        start: int = 1,
        step: int = 1,
        allow_explicit: bool = False,
    ) -> int:
        """ALTER TABLE ... ADD COLUMN ... GENERATED ALWAYS AS IDENTITY
        (``allow_explicit=True`` = the BY DEFAULT variant): appends a
        BIGINT column whose values the WRITER assigns — each
        identity-omitting write allocates values strictly past
        ``delta.identity.highWaterMark`` in step direction (sparse
        per-partition blocks, one map-side projection — see
        :meth:`_assign_identity`; the protocol allows gaps, and the
        real feature's task-block reservation produces them too) and
        restates the advanced watermark in the same atomic commit's
        metaData, so values never repeat across appends, overwrites,
        checkpoints, or log expiry. GENERATED ALWAYS rejects writer-provided
        values; BY DEFAULT accepts them and bumps the watermark past
        them. Like the real table (which only accepts identity at
        CREATE TABLE), the column can only be added while the table
        holds no rows. An identity-assigning commit that loses a
        put-if-absent race to another one surfaces the conflict (the
        winner's watermark rides its metaData, and any winning
        metaData conflicts), so a stale watermark never mints
        duplicate ids — callers retry the write, which re-assigns
        from the winner's watermark."""
        if step == 0:
            raise ValueError("identity step must be non-zero")
        snap = self.snapshot()
        if any(f.name == name for f in snap.schema):
            raise ValueError(f"column {name!r} already exists")
        if self._mapping_enabled(snap):
            raise NotImplementedError(
                "identity columns on a column-mapped table are not "
                "supported (new fields need physical-name assignment)"
            )
        rows = sum(
            int(json.loads(a["stats"]).get("numRecords", 0))
            for a in snap.files.values()
            if a.get("stats")
        )
        if rows:
            raise ValueError(
                "identity columns can only be added while the table "
                f"holds no rows (it holds {rows}); the real table "
                "accepts identity only at CREATE TABLE for the same "
                "reason — existing rows have no assigned values"
            )
        md = {
            self._ID_START: int(start),
            self._ID_STEP: int(step),
            self._ID_EXPLICIT: bool(allow_explicit),
        }
        new_schema = T.StructType(
            list(snap.schema) + [T.StructField(name, T.LongType(), True, md)]
        )
        return self._commit_schema(
            snap,
            new_schema,
            {**snap.configuration, self._EVOLVED_KEY: "true"},
            "ADD COLUMNS",
            {
                "columns": json.dumps(
                    [{"name": name, "identity": md}], sort_keys=True
                )
            },
            protocol=self._tf_upgrade(snap, set(), {"identityColumns"}),
        )

    def _assign_identity(
        self, df: DataFrame, name: str, fmeta: dict
    ) -> tuple[DataFrame, int | None]:
        """Assign identity values to a batch that omitted the column:
        (frame-with-values, None) — the advanced watermark is derived
        by write() from the staged files' footer stats, not here.

        PER-PARTITION BLOCK ALLOCATION, the real writer's task-based
        shape: one small aggregate counts rows per physical partition
        (driver traffic = partition count), exclusive prefix offsets
        become a plan-literal map, and each row's value is
        ``base + (offset + local index) * step`` — a map-side
        projection with NO sort, NO range exchange, and NO join. A
        first cut ranked the batch with the two-pass global row number
        (a full repartitionByRange + sort): 24s vs 1.7s for a plain
        6M-row append at sf1 — a 14x tax for an ordering the feature
        does not promise. Like the real feature, which reserves id
        blocks per task, the row->value pairing depends on the batch's
        physical partitioning; the assigned VALUE SET
        ``{base + k*step}`` and the advanced watermark are exact and
        deterministic, which is the identity contract.

        The frame is persisted before fanning out to the count and
        assignment consumers — without it the two subtrees could
        recompute the upstream with different partitioning and
        mis-pair counts with indexes (the same correctness note as
        operators/ranking.global_row_number)."""
        start = int(fmeta[self._ID_START])
        step = int(fmeta[self._ID_STEP])
        hwm = fmeta.get(self._ID_HWM)
        base = (int(hwm) + step) if hwm is not None else start
        # SPARSE BLOCK ALLOCATION, the real writer's shape:
        # monotonically_increasing_id packs (partition index << 33) |
        # per-partition record number, so ``base + mid*step`` is
        # unique, strictly past the watermark, and ONE map-side
        # narrow projection — no cache, no count job, no shuffle, no
        # window. The protocol explicitly allows gaps in identity
        # values (the real feature's task-block reservation produces
        # them too); the alternatives measured at sf1 (6M-row append,
        # plain append = 1.1s): dense assignment via the two-pass
        # global row number 24s (range shuffle + sort), via a
        # partition-id window 9.4s (window exchange), via persist +
        # count + offset map 7.9s (cache round-trip) — all taxes for a
        # density the feature does not promise. The watermark advance
        # is derived by write() from the STAGED FILES' own footer
        # stats (max/min of the column it just wrote), so even the
        # count job disappears. Watermark growth per batch is bounded
        # by (#partitions << 33)*|step| — ~10^5 10k-partition batches
        # fit int64, the same order as the real feature's block
        # reservation.
        return (
            df.withColumn(
                name,
                (
                    F.lit(base)
                    + F.monotonically_increasing_id() * F.lit(step)
                ).cast("long"),
            ),
            None,
        )

    def enable_v2_checkpoints(self) -> int:
        """Enable the v2-checkpoint table feature (PROTOCOL.md "V2
        Checkpoint Table Feature"): from the next checkpoint on, the
        checkpoint is a MANIFEST (protocol/metaData/txn/domain rows
        plus one row per sidecar) whose file actions live in sidecar
        parquet files under ``_delta_log/_sidecars``, bucketed by a
        stable hash of the file path and named by CONTENT hash — a
        checkpoint whose bucket did not change since the previous one
        reuses the sidecar file byte-for-byte. At 100 TB the file set
        dwarfs every other action class, so this turns checkpoint
        write cost from O(table files) into O(changed files + sidecar
        count). Older v1 checkpoints keep reading. Idempotent."""
        snap = self.snapshot()
        if snap.configuration.get(self._CKPT_POLICY_KEY) == "v2":
            return snap.version
        config = dict(snap.configuration)
        config[self._CKPT_POLICY_KEY] = "v2"
        return self._commit_configuration(
            snap,
            config,
            "SET TBLPROPERTIES",
            {"properties": json.dumps({self._CKPT_POLICY_KEY: "v2"})},
            protocol=self._tf_upgrade(
                snap, {"v2Checkpoint"}, {"v2Checkpoint"}
            ),
        )

    def enable_type_widening(self) -> int:
        """Enable the type-widening table feature (the public Delta
        protocol's "Type Widening"): ``write(merge_schema=True)``
        accepts widening type changes — up the integral chain,
        float→double, decimal growth that keeps integer digits,
        integral→wide-enough decimal, date→timestamp_ntz — recording
        each change as a ``delta.typeChanges`` entry in the column's
        schema metadata. Files written before a change keep the
        narrow physical type; every read pins the scan to the wide
        logical schema (:meth:`_tw_schema`), which the vectorized
        parquet reader upcasts in one pass — no per-era read branches,
        no rewrite of existing data. Idempotent."""
        snap = self.snapshot()
        if snap.configuration.get(self._TW_KEY) == "true":
            return snap.version
        config = dict(snap.configuration)
        config[self._TW_KEY] = "true"
        return self._commit_configuration(
            snap,
            config,
            "SET TBLPROPERTIES",
            {"properties": json.dumps({self._TW_KEY: "true"})},
            protocol=self._tf_upgrade(
                snap, {"typeWidening"}, {"typeWidening"}
            ),
        )

    def enable_row_tracking(self) -> int:
        """Enable the row-tracking table feature (PROTOCOL.md "Row
        Tracking"): every add action gets a ``baseRowId``, a row's
        stable id = baseRowId + its file row index (the fresh-row-id
        formula), and the assignment high watermark rides a
        ``domainMetadata`` action in domain ``delta.rowTracking``.
        This enabling commit BACKFILLS baseRowId onto every existing
        active add in one dataChange=false re-commit (path order), so
        ids exist for the whole table immediately.

        Stability contract (mini subset, each path tested):
        - DV deletes never move surviving rows → ids stable for free;
        - OPTIMIZE / REORG PURGE / copy-on-write DELETE & UPDATE
          preserve ids by MATERIALIZING them into the rewritten files
          (hidden physical column named by the
          ``delta.rowTracking.materializedRowIdColumnName`` property,
          fixed here at enable time); readers prefer the materialized
          column over the fresh formula;
        - rows rewritten by MERGE / DV-UPDATE get FRESH ids — those
          paths represent an update as delete+insert (their CDF shape)
          and the new row is a new row. The real feature preserves ids
          there too; this subset documents the deviation loudly rather
          than approximating it.

        Read ids with ``read(with_row_ids=True)`` (adds ``_row_id``).
        Not supported on tables with absolute file references
        (shallow clones). Idempotent."""
        snap = self.snapshot()
        if snap.configuration.get(self._RT_KEY) == "true":
            return snap.version
        if any(os.path.isabs(r) for r in snap.files):
            raise NotImplementedError(
                "row tracking on tables with absolute file references "
                "(shallow clones) is not supported; rewrite the clone "
                "first"
            )
        if "_row_id" in {f.name for f in snap.schema}:
            raise SchemaMismatchError(
                "row tracking reserves the _row_id output column; the "
                "table already has a column of that name"
            )
        config = dict(snap.configuration)
        config[self._RT_KEY] = "true"
        config[self._RT_MAT_KEY] = f"_row_id_col_{uuid.uuid4().hex[:8]}"
        now_ms = int(time.time() * 1000)
        actions: list[dict[str, Any]] = []
        up = self._tf_upgrade(
            snap, set(), {"rowTracking", "domainMetadata"}
        )
        if up is not None:
            actions.append({"protocol": up})
        actions.append(
            _metadata_action(
                snap.table_id,
                snap.schema,
                snap.partition_columns,
                config,
                now_ms,
            )
        )
        hwm = -1
        for rel in sorted(snap.files):
            add = dict(snap.files[rel])
            stats = json.loads(add["stats"]) if add.get("stats") else {}
            n = stats.get("numRecords")
            if n is None:
                raise RuntimeError(
                    "row tracking requires numRecords stats on every "
                    f"add; missing for {rel!r}"
                )
            add["baseRowId"] = hwm + 1
            hwm += int(n)
            add["dataChange"] = False
            actions.append(
                _remove_action(snap.files[rel], now_ms, data_change=False)
            )
            actions.append({"add": add})
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
        return self._commit_resolving(
            snap,
            actions,
            "SET TBLPROPERTIES",
            {"properties": json.dumps({self._RT_KEY: "true"})},
            reads=_every_file,
        )

    def set_constraint(self, name: str, sql: str) -> int:
        """ALTER TABLE ... ADD CONSTRAINT ... CHECK (...): validate
        the EXISTING rows satisfy the expression (the real command
        scans the table before accepting), then commit a metaData
        action with ``delta.constraints.<name>`` set. Every later
        write enforces it."""
        snap = self.snapshot()
        key = f"delta.constraints.{name}"
        [check] = self._invariants({key: sql}, snap.schema, [])
        self._refuse_existing(check, f"add CHECK constraint {name!r}")
        config = dict(snap.configuration)
        config[key] = sql
        return self._commit_configuration(
            snap, config, "ADD CONSTRAINT", {"name": name, "expr": sql}
        )

    def drop_constraint(self, name: str) -> int | None:
        """ALTER TABLE ... DROP CONSTRAINT: remove the property; None
        if the constraint does not exist."""
        snap = self.snapshot()
        key = f"delta.constraints.{name}"
        if key not in snap.configuration:
            return None
        config = {k: v for k, v in snap.configuration.items() if k != key}
        return self._commit_configuration(
            snap, config, "DROP CONSTRAINT", {"name": name}
        )

    def _commit_configuration(
        self,
        snap: Snapshot,
        configuration: dict[str, str],
        operation: str,
        parameters: dict[str, Any],
        protocol: dict[str, Any] | None = None,
    ) -> int:
        """Metadata-only commit restating the CURRENT schema/layout
        with a new configuration map (and optionally a protocol
        upgrade — table-feature enables ride the same commit)."""
        return self._commit_schema(
            snap, snap.schema, configuration, operation, parameters, protocol
        )

    # -- bloom filter index -----------------------------------------------

    @staticmethod
    def _bloom_positions_py(value: str, bits: int, hashes: int) -> list[int]:
        """The k bloom bit positions for a canonical value string —
        md5-derived so the driver-side probe and the Spark-side build
        (conv(substr(md5(...),1,15),16,10) % bits) agree bit-for-bit."""
        import hashlib

        return [
            int(
                hashlib.md5(
                    f"bloom{i}:{value}".encode("utf-8")
                ).hexdigest()[:15],
                16,
            )
            % bits
            for i in range(hashes)
        ]

    def build_bloom_index(
        self,
        column: str,
        bits: int | None = None,
        hashes: int | None = None,
        fpp: float = 0.01,
    ) -> int:
        """Per-file BLOOM FILTER INDEX on ``column`` (string / integral
        / date — the types whose Spark string cast is canonical): one
        distributed scan computes each active file's k md5-derived bit
        positions, the ≤ bits-sized bitsets ride back as the add
        actions' ``tags`` (the protocol's optional add field) in a
        ``dataChange=false`` re-commit — history, time travel, and the
        change feed all see a no-op, exactly like OPTIMIZE.

        Why it matters at 100 TB: min/max stats prune RANGE predicates
        on clustered columns, but a point lookup on a high-cardinality
        UNORDERED column (an order id, a user id, a trace id) overlaps
        every file's range — this is the needle-in-haystack access
        real bloom file indexes exist for. ``files_for_point`` then
        answers "which files can contain this value" from the log
        alone; a false-positive rate of ~(1-e^(-kn/m))^k applies,
        false negatives never. Files written AFTER the index build
        carry no bitset and are conservatively kept — rebuild to
        re-cover them (real bloom indexes have the same maintenance
        contract). Driver traffic is O(files × bits/64), the size of
        the index itself.

        SIZING: like the real option pair (``fpp`` + ``numItems``),
        the default auto-sizes from the data — one
        approx_count_distinct per file picks the bitset for the
        DENSEST file at the requested false-positive rate
        (m = −n·ln p ∕ ln²2, k = (m/n)·ln 2, both rounded; m rounded
        up to a power of two, byte-aligned). An explicitly passed
        ``bits``/``hashes`` overrides. An undersized bitset silently
        degrades to keep-everything (false positives, never false
        negatives) — which is why the default measures instead of
        guessing."""
        snap = self.snapshot()
        field = next((f for f in snap.schema if f.name == column), None)
        if field is None:
            raise SchemaMismatchError(f"no such column: {column!r}")
        if not isinstance(
            field.dataType,
            (T.StringType, T.IntegerType, T.LongType, T.ShortType,
             T.ByteType, T.DateType),
        ):
            raise SchemaMismatchError(
                f"bloom index on {field.dataType.simpleString()} is not "
                "supported (string cast is not canonical across "
                "engines); index string/integral/date columns"
            )
        if not snap.files:
            return snap.version
        if any(os.path.isabs(r) for r in snap.files):
            raise NotImplementedError(
                "bloom index over a shallow clone's absolute "
                "references is not supported; rewrite the clone first"
            )
        pcol = self._phys_column(snap.schema, column)
        scan = self._scan(snap, snap.files, file_cols=True)
        val = F.col(column).cast("string")
        if bits is None or hashes is None:
            import math

            densest = (
                scan.filter(F.col(column).isNotNull())
                .groupBy("_rel")
                .agg(F.approx_count_distinct(column).alias("_n"))
                .agg(F.max("_n"))
                .collect()[0][0]
            ) or 1
            m = max(64, -densest * math.log(fpp) / (math.log(2) ** 2))
            if bits is None:
                bits = 1 << math.ceil(math.log2(m))  # pow2, byte-aligned
            if hashes is None:
                hashes = max(1, round(bits / densest * math.log(2)))
        positions = F.array(
            *[
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"bloom{i}:"), val)), 1, 15
                    ),
                    16,
                    10,
                ).cast("long")
                % bits
                for i in range(hashes)
            ]
        )
        per_file = (
            scan.filter(F.col(column).isNotNull())
            .select("_rel", F.explode(positions).alias("_p"))
            .groupBy("_rel")
            .agg(F.collect_set("_p").alias("_ps"))
            .collect()
        )
        import base64

        bitsets: dict[str, str] = {}
        for row in per_file:
            bs = bytearray(bits // 8)
            for p in row["_ps"]:
                bs[p // 8] |= 1 << (p % 8)
            bitsets[row["_rel"]] = base64.b64encode(bytes(bs)).decode()
        now_ms = int(time.time() * 1000)
        actions: list[dict[str, Any]] = []
        for rel in sorted(snap.files):
            actions.append(
                _remove_action(snap.files[rel], now_ms, data_change=False)
            )
            add = dict(snap.files[rel])
            tags = dict(add.get("tags") or {})
            # an all-zero bitset (file has only NULLs) is still an
            # index: it proves the file contains NO non-null value
            payload = bitsets.get(
                rel, base64.b64encode(bytes(bits // 8)).decode()
            )
            tags[f"bloom.{pcol}"] = f"{bits}:{hashes}:{payload}"
            add["tags"] = tags
            add["dataChange"] = False
            actions.append({"add": add})
        return self._commit_resolving(
            snap,
            actions,
            "BLOOM INDEX",
            {"column": column, "bits": bits, "hashes": hashes},
        )

    def _bloom_may_contain(
        self, add: dict[str, Any], pcol: str, value
    ) -> bool:
        """May this add action's file contain ``value`` in ``pcol``?
        Conservative: no bloom tag → True; any probed bit zero →
        definitively False."""
        tag = (add.get("tags") or {}).get(f"bloom.{pcol}")
        if tag is None or value is None:
            return True
        import base64

        bits_s, hashes_s, payload = tag.split(":", 2)
        bits_n, hashes_n = int(bits_s), int(hashes_s)
        bs = base64.b64decode(payload)
        for p in self._bloom_positions_py(str(value), bits_n, hashes_n):
            if not bs[p // 8] & (1 << (p % 8)):
                return False
        return True

    def files_for_point(
        self, column: str, value, version: int | None = None
    ) -> list[str]:
        """Point-lookup file pruning: active files that MAY contain
        ``column == value``, consulting min/max stats AND the bloom
        index (build_bloom_index). Conservative by construction —
        bloom false positives keep a file, false negatives cannot
        happen, unindexed files are always kept."""
        snap = self.snapshot(version)
        pcol = self._phys_column(snap.schema, column)
        return [
            os.path.join(self.path, rel)
            for rel in sorted(snap.files)
            if _stats_overlap(snap.files[rel], pcol, value, value)
            and self._bloom_may_contain(snap.files[rel], pcol, value)
        ]

    # -- column mapping ---------------------------------------------------

    @staticmethod
    def _phys(f: T.StructField) -> str:
        """The column's PHYSICAL (on-disk parquet) name: the
        ``delta.columnMapping.physicalName`` field metadata when
        column mapping is active, else the logical name itself."""
        return (f.metadata or {}).get(
            "delta.columnMapping.physicalName", f.name
        )

    def _phys_column(self, schema: T.StructType, column: str) -> str:
        """Logical -> physical column-name translation for stats
        lookups (per-file stats are recorded under the names the
        parquet writer saw)."""
        for f in schema:
            if f.name == column:
                return self._phys(f)
        return column

    def _mapping_enabled(self, snap: Snapshot) -> bool:
        return snap.configuration.get("delta.columnMapping.mode") == "name"

    def _guard_not_referenced(self, snap: Snapshot, name: str, op: str):
        """Refuse renaming/dropping a column referenced by a CHECK
        constraint or a generation expression (the real commands
        refuse too — the stored SQL text would silently go stale)."""
        import re as _re

        pat = _re.compile(rf"\b{_re.escape(name)}\b")

        def _sans_literals(sql: str) -> str:
            # a column name INSIDE a string literal is not a
            # reference — strip single-quoted literals ('' escapes
            # included) before matching, so e.g. CHECK(status <>
            # 'qty removed') doesn't block dropping a `qty` column.
            # Identifier/function-name collisions remain over-strict
            # in the SAFE direction (refuse, never silently stale).
            return _re.sub(r"'(?:[^']|'')*'", "''", sql)

        for key, sql in snap.configuration.items():
            if key.startswith("delta.constraints.") and pat.search(
                _sans_literals(sql)
            ):
                raise SchemaMismatchError(
                    f"cannot {op} column {name!r}: referenced by CHECK "
                    f"constraint {key.removeprefix('delta.constraints.')!r}"
                    f" ({sql})"
                )
        for gname, gsql in self._generation_exprs(snap.schema).items():
            if gname != name and pat.search(_sans_literals(gsql)):
                raise SchemaMismatchError(
                    f"cannot {op} column {name!r}: generation expression "
                    f"of {gname!r} references it ({gsql})"
                )

    def _commit_schema(
        self,
        snap: Snapshot,
        schema: T.StructType,
        configuration: dict[str, str],
        operation: str,
        parameters: dict[str, Any],
        protocol: dict[str, Any] | None = None,
    ) -> int:
        """Metadata-only commit of a new schema/configuration (and
        optionally a protocol bump) — zero data files touched. It read
        the whole table, so a concurrent data change conflicts."""
        actions: list[dict[str, Any]] = []
        if protocol is not None:
            actions.append({"protocol": protocol})
        actions.append(
            _metadata_action(
                snap.table_id,
                schema,
                snap.partition_columns,
                configuration,
                int(time.time() * 1000),
            )
        )
        return self._commit_resolving(
            snap, actions, operation, parameters, reads=_every_file
        )

    def enable_column_mapping(self) -> int:
        """ALTER TABLE ... SET TBLPROPERTIES
        ('delta.columnMapping.mode' = 'name'): annotate every field
        with its stable physical name (its CURRENT name — the
        protocol's upgrade rule, so existing files read unchanged) and
        a column id, raise the protocol gate (reader 2 / writer 5;
        kept at 3/7 if deletion vectors already require it), and from
        then on RENAME/DROP COLUMN are metadata-only — zero files
        rewritten. Idempotent."""
        snap = self.snapshot()
        if self._mapping_enabled(snap):
            return snap.version
        fields = []
        for i, f in enumerate(snap.schema, 1):
            meta = dict(f.metadata or {})
            meta.setdefault("delta.columnMapping.id", i)
            meta.setdefault("delta.columnMapping.physicalName", f.name)
            fields.append(
                T.StructField(f.name, f.dataType, f.nullable, meta)
            )
        config = dict(snap.configuration)
        config["delta.columnMapping.mode"] = "name"
        if snap.min_reader >= 3:
            # the table is already on table-feature versions: the
            # upgrade must enumerate columnMapping alongside
            # everything already in use
            protocol = self._tf_upgrade(
                dataclasses.replace(snap, configuration=config),
                {"columnMapping"},
                {"columnMapping"},
            )
        else:
            # legacy versions carry column mapping without feature
            # lists — the real reader-2/writer-5 gate
            protocol = {"minReaderVersion": 2, "minWriterVersion": 5}
        return self._commit_schema(
            snap,
            T.StructType(fields),
            config,
            "SET TBLPROPERTIES",
            {"delta.columnMapping.mode": "name"},
            protocol=protocol,
        )

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE ... RENAME COLUMN: metadata-only under column
        mapping — the field keeps its physical name, so not a single
        data file is rewritten and old snapshots time-travel under
        their old logical names. Partition columns and columns
        referenced by constraints/generation expressions refuse (their
        stored text would go stale)."""
        snap = self.snapshot()
        if not self._mapping_enabled(snap):
            raise SchemaMismatchError(
                "RENAME COLUMN requires column mapping; call "
                "enable_column_mapping() first"
            )
        names = {f.name for f in snap.schema}
        if old not in names:
            raise SchemaMismatchError(f"no such column: {old!r}")
        if new in names:
            raise SchemaMismatchError(f"column already exists: {new!r}")
        if old in snap.partition_columns:
            raise SchemaMismatchError(
                f"cannot rename partition column {old!r} (hive paths "
                "carry its name)"
            )
        self._guard_not_referenced(snap, old, "rename")
        fields = [
            T.StructField(new if f.name == old else f.name, f.dataType,
                          f.nullable, dict(f.metadata or {}))
            for f in snap.schema
        ]
        return self._commit_schema(
            snap,
            T.StructType(fields),
            dict(snap.configuration),
            "RENAME COLUMN",
            {"from": old, "to": new},
        )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE ... DROP COLUMN: metadata-only under column
        mapping — the physical column stays in the files, readers
        prune it, and old snapshots still surface it. Partition
        columns and constraint/generation-referenced columns refuse."""
        snap = self.snapshot()
        if not self._mapping_enabled(snap):
            raise SchemaMismatchError(
                "DROP COLUMN requires column mapping; call "
                "enable_column_mapping() first"
            )
        if name not in {f.name for f in snap.schema}:
            raise SchemaMismatchError(f"no such column: {name!r}")
        if name in snap.partition_columns:
            raise SchemaMismatchError(
                f"cannot drop partition column {name!r}"
            )
        self._guard_not_referenced(snap, name, "drop")
        fields = [f for f in snap.schema if f.name != name]
        if not fields:
            raise SchemaMismatchError("cannot drop the only column")
        return self._commit_schema(
            snap,
            T.StructType(fields),
            dict(snap.configuration),
            "DROP COLUMN",
            {"name": name},
        )

