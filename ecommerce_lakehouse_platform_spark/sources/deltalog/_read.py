"""Read side: schema-era scans, time travel, data skipping, DV-aware reads, row-id scans, the change data feed.

One mixin of ``MiniDeltaTable``, assembled by the package ``__init__``,
whose docstring has the protocol overview."""

from __future__ import annotations

import dataclasses
import json
import os
from collections.abc import Iterator
from typing import Any, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._base import (
    _LOG_DIR,
    Snapshot,
    _commit_timestamp,
    _stats_overlap,
)


class ChangeEvent(NamedTuple):
    """Rows of one data file a commit inserted or deleted. Mode
    ``"anti"``: the file's rows NOT in deletion vector ``dv`` (a whole
    logical file added or removed). Mode ``"semi"``: the positions in
    ``dv`` that are not in ``dv_old`` (a DV commit's delta)."""

    change: str  # "insert" | "delete"
    path: str
    mode: str  # "anti" | "semi"
    dv: dict | None
    dv_old: dict | None = None
    partition_values: dict | None = None


class ChangeCommit(NamedTuple):
    """One commit as the change planner yields it."""

    version: int
    timestamp_ms: int
    schema: T.StructType | None  # the commit's metaData schema, if any
    events: list[ChangeEvent]


def _change_events(actions: list[dict[str, Any]]) -> list[ChangeEvent]:
    """One commit's row-level change events, read from the commit
    alone. ``dataChange=false`` actions (compaction, index and
    row-tracking re-commits) emit nothing. The same path removed and
    re-added under a DIFFERENT deletion vector is a DV commit: its
    events are the positions the new DV adds (deletes) and drops
    (re-inserts, as a RESTORE does) — never a delete-all/insert-all
    of the file."""
    removes = {
        a["remove"]["path"]: a["remove"].get("deletionVector")
        for a in actions
        if "remove" in a and a["remove"].get("dataChange", True)
    }
    adds = [
        a["add"]
        for a in actions
        if "add" in a and a["add"].get("dataChange", True)
    ]
    dv_commits = {
        ad["path"]
        for ad in adds
        if ad["path"] in removes
        and ad.get("deletionVector") != removes[ad["path"]]
    }
    events = [
        ChangeEvent("delete", path, "anti", dv)
        for path, dv in removes.items()
        if path not in dv_commits
    ]
    for ad in adds:
        path, new = ad["path"], ad.get("deletionVector")
        pv = ad.get("partitionValues")
        if path not in dv_commits:
            events.append(ChangeEvent("insert", path, "anti", new, None, pv))
            continue
        old = removes[path]
        if new:
            events.append(ChangeEvent("delete", path, "semi", new, old, pv))
        if old:
            events.append(ChangeEvent("insert", path, "semi", old, new, pv))
    return events


class _ReadMixin:
    # -- read -----------------------------------------------------------

    def _reader(
        self,
        rels,
        merge_schema: bool = False,
        read_schema: T.StructType | None = None,
    ):
        """Parquet reader for logged paths: ``basePath`` (hive
        partition-column recovery) only when every path sits under the
        table root — a shallow clone's ABSOLUTE references to its
        source's files would fail Spark's basePath prefix check; a
        partitioned clone's reads go through
        :meth:`_read_logged_partitions` instead.

        ``merge_schema`` turns on Spark's parquet footer merging so a
        snapshot whose files span a MERGE-SCHEMA append evolution
        (older files lack the appended columns) reads with nulls
        filled — callers pass :meth:`_needs_schema_merge`, so only
        evolved tables pay the footer-merging cost.

        ``read_schema`` (callers pass :meth:`_tw_schema`) pins the
        scan to an explicit wide schema when the table widened a
        column type: schema inference would surface the NARROW type
        from pre-widening footers (and footer merging outright fails
        on int-vs-long conflicts) while the explicit schema makes the
        vectorized reader upcast in-scan. An explicit schema also
        null-fills columns absent from old files, so it subsumes
        footer merging whenever both evolutions are present."""
        reader = self.spark.read
        if read_schema is not None:
            reader = reader.schema(read_schema)
        elif merge_schema:
            reader = reader.option("mergeSchema", "true")
        if all(not os.path.isabs(r) for r in rels):
            reader = reader.option("basePath", self.path)
        return reader

    _EVOLVED_KEY = "minidelta.appendSchemaEvolved"
    # v2 checkpoint policy (the real writer's delta.checkpointPolicy):
    # "v2" routes checkpoint() to the manifest + content-hash-named
    # sidecar layout; files per sidecar bucket is the write-size knob
    _CKPT_POLICY_KEY = "delta.checkpointPolicy"
    # delta.appendOnly: the protocol's append-only table property —
    # row-removing commits (overwrite, DELETE, UPDATE, MERGE) refuse
    _APPEND_ONLY_KEY = "delta.appendOnly"
    _SIDECAR_FILES = 512
    # sidecar GC grace (ms): expire_log skips unreferenced sidecars
    # younger than this — checkpoint() writes sidecars before
    # publishing the manifest, so a concurrent expire must not reap
    # the files an in-flight checkpoint is about to reference
    _SIDECAR_GC_GRACE_MS = 15 * 60 * 1000
    _TW_KEY = "delta.enableTypeWidening"
    # identity columns (the protocol's "Identity Columns" writer
    # feature): declaration + the assignment high watermark live in
    # the column's schema metadata under the real table's keys
    _ID_START = "delta.identity.start"
    _ID_STEP = "delta.identity.step"
    _ID_HWM = "delta.identity.highWaterMark"
    _ID_EXPLICIT = "delta.identity.allowExplicitInsert"
    _TYPE_CHANGES_META = "delta.typeChanges"

    # Table features (PROTOCOL.md "Table Features"): the feature
    # names this implementation READS correctly / WRITES correctly.
    # A reader-3/writer-7 protocol action must enumerate every
    # feature the table uses; readers refuse unknown readerFeatures,
    # writers refuse to commit under unknown writerFeatures.
    _READER_FEATURES_SUPPORTED = frozenset(
        {
            "deletionVectors",
            "columnMapping",
            "typeWidening",
            "v2Checkpoint",
            "timestampNtz",
        }
    )
    _WRITER_FEATURES_SUPPORTED = frozenset(
        {
            "deletionVectors",
            "columnMapping",
            "typeWidening",
            "v2Checkpoint",
            "timestampNtz",
            "identityColumns",
            "rowTracking",
            "domainMetadata",
            "inCommitTimestamp",
            "checkConstraints",
            "generatedColumns",
            "allowColumnDefaults",
            "appendOnly",
        }
    )

    # the protocol's widening lattice, integral ranks
    _TW_INT_RANK = {"tinyint": 1, "smallint": 2, "int": 3, "bigint": 4}
    # integer digits an integral type needs a decimal to hold exactly
    _TW_INT_DIGITS = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 20}

    @classmethod
    def _is_type_widening(cls, frm: T.DataType, to: T.DataType) -> bool:
        """True when ``frm -> to`` is one of the type changes the
        public Delta protocol's Type Widening feature allows — all of
        which Spark 4's vectorized parquet reader performs IN-SCAN
        when handed the wide read schema (probed empirically for the
        whole matrix): up the integral chain, float->double,
        (sub-)int->double, decimal precision/scale growth that never
        shrinks integer digits, integral->decimal with enough integer
        digits, and date->timestamp_ntz."""
        if frm == to:
            return False
        f, t = frm.simpleString(), to.simpleString()
        if f in cls._TW_INT_RANK and t in cls._TW_INT_RANK:
            return cls._TW_INT_RANK[f] < cls._TW_INT_RANK[t]
        if t == "double":
            return f in ("float", "tinyint", "smallint", "int")
        if isinstance(to, T.DecimalType):
            if isinstance(frm, T.DecimalType):
                return (
                    to.precision >= frm.precision
                    and to.scale >= frm.scale
                    and (to.precision - to.scale)
                    >= (frm.precision - frm.scale)
                )
            if f in cls._TW_INT_DIGITS:
                return (
                    to.precision - to.scale >= cls._TW_INT_DIGITS[f]
                )
            return False
        if f == "date" and t == "timestamp_ntz":
            return True
        return False

    @classmethod
    def _tw_schema(
        cls, schema: T.StructType, evolved: bool = False
    ) -> T.StructType | None:
        """Explicit PHYSICAL read schema when the scan cannot trust
        per-file footer inference: any column carries a
        ``delta.typeChanges`` record (files written before the change
        store the narrow type; the vectorized reader upcasts in-scan
        when handed the wide schema), or ``evolved`` (a merge-schema
        append added columns; the explicit schema null-fills files
        that predate them). Either way it is ONE scan with no per-era
        branches and — unlike the ``mergeSchema`` option — no up-front
        footer-merge job, which reads every file's footer before the
        query starts and grows linearly with file count (sf1, 33
        files: 0.59s footer-merged vs 0.40s explicit for the same
        aggregate). None when the log's files are homogeneous (schema
        inference reads one footer and stays the cheap default)."""
        if not evolved and not any(
            (f.metadata or {}).get(cls._TYPE_CHANGES_META)
            for f in schema
        ):
            return None
        return T.StructType(
            [T.StructField(cls._phys(f), f.dataType, True) for f in schema]
        )

    @classmethod
    def _needs_schema_merge(cls, snap: Snapshot) -> bool:
        """True when this snapshot's files may span a merge-schema
        append (the marker is set by ``write(merge_schema=True)`` and
        persists; a later OPTIMIZE homogenizes the data but the flag
        is a cheap conservative constant). Since r11 the flag routes
        reads to an explicit scan schema (:meth:`_tw_schema`) rather
        than the ``mergeSchema`` footer-merge option — same null-fill
        semantics without the per-scan footer job."""
        return snap.configuration.get(cls._EVOLVED_KEY) == "true"

    @staticmethod
    def _exists_default_fields(schema: T.StructType) -> dict[str, str]:
        """name -> EXISTS_DEFAULT sql for fields carrying the read
        half of the column-defaults feature (``add_column`` with a
        default). Empty for every other table — the marker gate that
        keeps unaffected reads zero-cost."""
        return {
            f.name: f.metadata["EXISTS_DEFAULT"]
            for f in schema
            if f.metadata and f.metadata.get("EXISTS_DEFAULT")
        }

    def _exists_default_fill(
        self, snap: Snapshot, df: DataFrame, rels
    ) -> DataFrame:
        """Apply EXISTS_DEFAULT (r13 stretch — the read half of the
        public column-defaults feature): rows from files that
        PHYSICALLY LACK an EXISTS_DEFAULT column surface the frozen
        default instead of the scan's null-fill; rows from post-add
        files keep their stored values, explicitly stored NULL
        included. ``df`` must still carry ``_metadata`` (call before
        the logical projection).

        Per-file presence comes from a driver-side parquet-footer
        sweep over the scanned files — the same O(files) metadata
        class as the rest of this protocol implementation (stats at
        stage time, sidecar GC, vacuum); a production reader does
        this reconciliation executor-side inside the scan, which is
        the shape this plan mirrors: the fill itself is a broadcast
        membership join on the file path, no data-proportional
        driver work. An unreadable footer is treated as LACKING the
        column (conservative: the scan surfaces null there anyway,
        so filling with the default is the only consistent answer)."""
        ed = self._exists_default_fields(snap.schema)
        if not ed:
            return df
        if any(os.path.isabs(r) for r in rels):
            raise NotImplementedError(
                "EXISTS_DEFAULT over a shallow clone's absolute "
                "references is not supported (the membership join's "
                "rel domain cannot span roots); OPTIMIZE the source "
                "first"
            )
        import pyarrow.parquet as pq

        types = {f.name: f.dataType for f in snap.schema}
        present: dict[str, set[str]] = {}
        for rel in rels:
            try:
                names = {
                    n.split(".", 1)[0]
                    for n in pq.ParquetFile(
                        os.path.join(self.path, rel)
                    ).schema.names
                }
            except Exception:
                names = set()
            present[rel] = names
        avail = set(df.columns)
        fills = {}
        for name, sql in ed.items():
            pname = self._phys_column(snap.schema, name)
            lacking = sorted(
                r for r, cols in present.items() if pname not in cols
            )
            if lacking:
                fills[pname] = (lacking, F.expr(sql).cast(types[name]))
        if not fills:
            return df
        # post-join callers (the DV anti-join branches) no longer see
        # the scan's hidden _metadata column — reuse their precomputed
        # _rel, whose domain matches the rels keys on non-clone tables
        # (the abs-rel guard above keeps it that way)
        rel_col = (
            F.col("_rel")
            if "_rel" in df.columns
            else self._rel_from("_metadata.file_path")
        )
        out = df.withColumn("_edf_rel", rel_col)
        for pname, (lacking, fill) in fills.items():
            memb = F.broadcast(
                self.spark.createDataFrame(
                    [(r,) for r in lacking], "`_edf_rel` string"
                ).withColumn("_edf_lacks", F.lit(True))
            )
            out = out.join(memb, "_edf_rel", "left")
            if pname in avail:
                out = out.withColumn(
                    pname,
                    F.when(F.col("_edf_lacks"), fill).otherwise(
                        F.col(pname)
                    ),
                )
            else:
                # no scanned file has the column at all: the explicit
                # scan schema didn't know it either — add it filled
                out = out.withColumn(
                    pname, F.when(F.col("_edf_lacks"), fill)
                )
            out = out.drop("_edf_lacks")
        return out.drop("_edf_rel")

    def _read_logged_partitions(self, snap: Snapshot) -> DataFrame:
        """Read a partitioned snapshot whose files span roots (shallow
        clone): partition columns come from each add action's
        ``partitionValues`` — the log IS the protocol's source of
        truth for them — attached as typed literals per partition
        group, one reader branch per distinct partition tuple. The
        branch count is the snapshot's live-partition count (bounded
        by the partitioning scheme, corpus-independent), and each
        branch is an ordinary distributed parquet scan."""
        types = {f.name: f.dataType for f in snap.schema}
        groups: dict[tuple, list[str]] = {}
        for rel in sorted(snap.files):
            pv = snap.files[rel].get("partitionValues", {})
            key = tuple(pv.get(c) for c in snap.partition_columns)
            groups.setdefault(key, []).append(os.path.join(self.path, rel))
        data_schema = self._tw_schema(
            T.StructType(
                [
                    f
                    for f in snap.schema
                    if f.name not in snap.partition_columns
                ]
            ),
            self._needs_schema_merge(snap),
        )
        parts = []
        for key in sorted(groups, key=lambda k: tuple(v or "" for v in k)):
            reader = self.spark.read
            if data_schema is not None:
                # widened table: pin the scan to the wide data-column
                # schema (partition values come from the log below)
                reader = reader.schema(data_schema)
            df = reader.parquet(*groups[key])
            pvals = dict(zip(snap.partition_columns, key))
            parts.append(
                df.select(
                    *[
                        F.lit(pvals[f.name]).cast(types[f.name]).alias(f.name)
                        if f.name in pvals
                        else F.col(self._phys(f))
                        .cast(f.dataType)
                        .alias(f.name)
                        for f in snap.schema
                    ]
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def detail(self) -> dict[str, Any]:
        """DESCRIBE DETAIL: one metadata-only dict for operators —
        file/byte/DV counts, layout, properties, protocol — computed
        from the latest snapshot replay, never from storage listing."""
        snap = self.snapshot()
        dvs = [
            a["deletionVector"]
            for a in snap.files.values()
            if a.get("deletionVector")
        ]
        return {
            "format": "minidelta(parquet)",
            "location": self.path,
            "version": snap.version,
            "numFiles": len(snap.files),
            "sizeInBytes": sum(
                a.get("size") or 0 for a in snap.files.values()
            ),
            "partitionColumns": list(snap.partition_columns),
            "numDeletionVectors": len(dvs),
            "deletedRowCount": sum(d["cardinality"] for d in dvs),
            "properties": dict(snap.configuration),
            "numTxnApps": len(snap.app_versions),
            "minReaderVersion": snap.min_reader,
            "minWriterVersion": snap.min_writer,
            "readerFeatures": sorted(snap.reader_features),
            "writerFeatures": sorted(snap.writer_features),
        }

    def version_at_timestamp(self, ts_ms: int) -> int:
        """TIMESTAMP AS OF resolution: the newest version whose commit
        timestamp is ≤ ``ts_ms`` — the real command's rule. Commit
        timestamps are MONOTONIZED first (each effective timestamp is
        at least its predecessor's), the same adjustment the real
        resolver applies, so clock skew between writers can never make
        an older version shadow the newest at-or-before one. Raises if
        the timestamp predates the table (version 0's commit)."""
        candidate: int | None = None
        eff = 0
        for v in self.versions():  # oldest → newest, parsed lazily
            info = self._commit_info(v)
            # in-commit timestamps (when the feature is on) are
            # authoritative and already monotonic; the writer-clock
            # fallback gets monotonized here
            eff = max(eff, _commit_timestamp(info))
            if eff <= ts_ms:
                candidate = v
            else:
                # monotonized eff never decreases: no later version
                # can qualify — resolution stays O(answer position)
                # instead of parsing every commit in the history
                break
        if candidate is None:
            raise ValueError(
                f"timestamp {ts_ms} predates the table's first commit"
            )
        return candidate

    def read(
        self,
        version: int | None = None,
        where: tuple | None = None,
        timestamp_ms: int | None = None,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Snapshot read (time travel with ``version=`` — VERSION AS
        OF — or ``timestamp_ms=`` — TIMESTAMP AS OF, resolved to the
        newest commit at-or-before the instant).

        The file list comes from the LOG, never from a directory
        listing, and the schema is the one in force AS OF the
        requested version. Partition columns are restored from the
        hive-style paths (``basePath``) and cast to the logged types —
        or, when the snapshot references files outside the table root
        (partitioned shallow clone), from the log's own
        ``partitionValues`` — so a read across a schema evolution is
        exact.

        ``where=(column, lo, hi)`` (either bound may be None) applies
        DATA SKIPPING before the scan: files whose stats range cannot
        overlap the bound are dropped from the plan entirely, and the
        residual range filter is applied to the surviving rows — so
        the result is exactly the filtered relation while the I/O is
        proportional to the matching files, not the table.

        ``with_row_ids=True`` (row-tracked tables only) appends the
        stable ``_row_id`` column — materialized for rewritten files,
        baseRowId + file row index for fresh ones; composes with
        time travel, ``where`` skipping, and deletion vectors."""
        if timestamp_ms is not None:
            if version is not None:
                raise ValueError("pass version= OR timestamp_ms=, not both")
            version = self.version_at_timestamp(timestamp_ms)
        snap = self.snapshot(version)
        residual = None
        if where is not None:
            col, lo, hi = where
            # stats live under the PHYSICAL names the writer saw
            pcol = self._phys_column(snap.schema, col)
            kept = {
                rel: add
                for rel, add in snap.files.items()
                if _stats_overlap(add, pcol, lo, hi)
                and (
                    lo is None
                    or lo != hi
                    or self._bloom_may_contain(add, pcol, lo)
                )
            }
            snap = dataclasses.replace(snap, files=kept)
            residual = F.lit(True)
            if lo is not None:
                residual = residual & (F.col(col) >= lo)
            if hi is not None:
                residual = residual & (F.col(col) <= hi)
        ed_fields = self._exists_default_fields(snap.schema)
        if with_row_ids:
            if ed_fields:
                raise NotImplementedError(
                    "read(with_row_ids=True) on a table with "
                    "EXISTS_DEFAULT columns is not supported; "
                    "OPTIMIZE first (compaction materializes the "
                    "defaults into the files)"
                )
            if not snap.files:
                return self.spark.createDataFrame(
                    [],
                    T.StructType(
                        list(snap.schema)
                        + [T.StructField("_row_id", T.LongType())]
                    ),
                )
            df = self._scan_with_row_ids(snap, snap.files)
            return df.filter(residual) if residual is not None else df
        paths = snap.file_paths(self.path)
        if not paths:
            return self.spark.createDataFrame([], snap.schema)
        dv_rels = {
            rel: add
            for rel, add in snap.files.items()
            if add.get("deletionVector")
        }
        if snap.partition_columns and any(
            os.path.isabs(r) for r in snap.files
        ):
            if dv_rels:
                raise NotImplementedError(
                    "reading a PARTITIONED shallow clone that still "
                    "references source files carrying deletion "
                    "vectors is not supported (partition-column "
                    "recovery and the DV anti-join cannot compose "
                    "across roots); OPTIMIZE the source before "
                    "cloning, or clone an unpartitioned table"
                )
            if ed_fields:
                raise NotImplementedError(
                    "reading a PARTITIONED shallow clone with "
                    "EXISTS_DEFAULT columns is not supported; "
                    "OPTIMIZE the source first"
                )
            df = self._read_logged_partitions(snap)
        elif not dv_rels:
            raw = self._reader(
                snap.files,
                self._needs_schema_merge(snap),
                self._tw_schema(
                    snap.schema, self._needs_schema_merge(snap)
                ),
            ).parquet(*paths)
            raw = self._exists_default_fill(snap, raw, sorted(snap.files))
            df = raw.select(
                *self._logical_casts(snap.schema, set(raw.columns))
            )
        else:
            # deletion-vector files: anti-join each DV's (rel, pos)
            # sidecar against the rows' file-metadata positions — the
            # deleted rows vanish without the files ever being
            # rewritten; untouched files scan exactly as before
            parts = []
            plain = {
                rel: a for rel, a in snap.files.items() if rel not in dv_rels
            }
            if plain:
                raw = self._reader(
                    plain,
                    self._needs_schema_merge(snap),
                    self._tw_schema(
                        snap.schema, self._needs_schema_merge(snap)
                    ),
                ).parquet(
                    *(os.path.join(self.path, r) for r in sorted(plain))
                )
                raw = self._exists_default_fill(snap, raw, sorted(plain))
                parts.append(
                    raw.select(
                        *self._logical_casts(
                            snap.schema, set(raw.columns)
                        )
                    )
                )
            by_sidecar: dict[str, list[str]] = {}
            for rel, add in dv_rels.items():
                by_sidecar.setdefault(
                    add["deletionVector"]["storagePath"], []
                ).append(rel)
            for sidecar in sorted(by_sidecar):
                rels = sorted(by_sidecar[sidecar])
                sub = self._reader(
                    {r: snap.files[r] for r in rels},
                    self._needs_schema_merge(snap),
                    self._tw_schema(
                        snap.schema, self._needs_schema_merge(snap)
                    ),
                ).parquet(*(os.path.join(self.path, r) for r in rels))
                # rel values in a sidecar are relative to the table
                # that WROTE it — for a clone's absolute storagePath
                # that is the source root, not ours
                sub = sub.withColumn(
                    "_rel",
                    self._rel_from(
                        "_metadata.file_path", self._dv_root(sidecar)
                    ),
                ).withColumn("_pos", F.col("_metadata.row_index"))
                dvp = self.spark.read.parquet(
                    os.path.join(self.path, sidecar)
                ).select(
                    F.col("rel").alias("_rel"), F.col("pos").alias("_pos")
                )
                alive = self._exists_default_fill(
                    snap,
                    sub.join(dvp, ["_rel", "_pos"], "left_anti"),
                    rels,
                )
                parts.append(
                    alive.select(
                        *self._logical_casts(
                            snap.schema, set(sub.columns)
                        )
                    )
                )
            df = parts[0]
            for part in parts[1:]:
                df = df.unionByName(part)
        # every branch already projected to the logical schema
        return df.filter(residual) if residual is not None else df

    def files_for(
        self, partition_filter: dict[str, Any], version: int | None = None
    ) -> list[str]:
        """Log-level partition pruning: active files whose
        ``partitionValues`` match the filter (string-compared in the
        hive path domain, which is how the protocol stores them). This
        is the metadata-only planning step a 100 TB reader does before
        touching storage."""
        snap = self.snapshot(version)
        wanted = {k: (None if v is None else str(v)) for k, v in partition_filter.items()}
        out = []
        for rel in sorted(snap.files):
            pv = snap.files[rel].get("partitionValues", {})
            if all(pv.get(k) == v for k, v in wanted.items()):
                out.append(os.path.join(self.path, rel))
        return out

    def files_for_range(
        self,
        column: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> list[str]:
        """Data skipping from the per-file ``stats`` in the log: active
        files whose [min, max] for ``column`` can overlap [lo, hi]
        (either bound may be None = unbounded). Conservative by
        construction — a file without stats for the column (old
        writer, unsupported type, a statless row group) is always
        kept, so the result is a superset of the files that actually
        contain matches, never a subset.

        Comparisons happen in the stats' stored JSON domain (numbers
        as numbers; dates/timestamps/strings as their ISO/string
        form, which for ISO dates orders identically to the values).
        This is the metadata-only planning step that pairs with
        ``optimize(zorder_by=...)``: clustering tightens each file's
        min/max, and this method turns a range predicate into a file
        subset without touching storage — at 100 TB, the scan you
        skip is the scan that matters."""
        snap = self.snapshot(version)
        pcol = self._phys_column(snap.schema, column)
        return [
            os.path.join(self.path, rel)
            for rel in sorted(snap.files)
            if _stats_overlap(snap.files[rel], pcol, lo, hi)
        ]

    def _rel_from(self, uri_sql: str, root: str | None = None) -> Column:
        """Path relative to ``root`` (default: the table root) decoded
        from a percent-encoded file URI expression
        (``input_file_name()`` or ``_metadata.file_path``), the same
        guarded way optimize() does (literal '+' protected before
        url_decode; the raw root located inside the decoded string).
        A non-default root is how DV sidecar rel values — always
        relative to the table that WROTE the sidecar — are matched
        when a shallow clone reads its source's files."""
        base = (root or self.path).rstrip("/")
        esc = base.replace("\\", "\\\\").replace("'", "\\'")
        decoded = (
            f"url_decode(regexp_replace({uri_sql},"
            " '\\\\+', '%2B'))"
        )
        return F.expr(
            f"substring({decoded},"
            f" instr({decoded}, '{esc}')"
            f" + {len(base) + 1})"
        )

    def _rel_file_col(self) -> Column:
        return self._rel_from("input_file_name()")

    def _dv_root(self, sidecar: str) -> str:
        """The table root a DV sidecar's rel values are relative to:
        sidecars live at ``<their writer's root>/_dv/<id>``, so an
        ABSOLUTE storagePath (a shallow clone referencing its source's
        DVs) resolves to the source root; relative ones to ours."""
        if os.path.isabs(sidecar):
            return os.path.dirname(os.path.dirname(sidecar))
        return self.path

    def _read_files_dv_aware(
        self, snap: Snapshot, rels, with_rel: bool = False
    ) -> DataFrame:
        """Raw parquet read of the given logged files with any active
        deletion vectors applied (anti-join of the sidecars' (rel,
        pos) against the rows' file-metadata positions). Columns are
        neither cast nor pruned — callers project. Every rewrite path
        (DML, OPTIMIZE) must read through this, or rows deleted by a
        DV would resurrect in the rewrite."""
        rels = sorted(rels)
        if any(
            os.path.isabs(r) and snap.files[r].get("deletionVector")
            for r in rels
        ):
            # the anti-join's _rel must match the sidecar's rel domain
            # per sidecar root; rewrite paths don't group by sidecar —
            # OPTIMIZE the source (materializing its DVs) first
            raise NotImplementedError(
                "rewriting a shallow clone's absolute references that "
                "carry deletion vectors is not supported; OPTIMIZE "
                "the source table first"
            )
        sub = self._reader(
            {r: snap.files[r] for r in rels},
            self._needs_schema_merge(snap),
            self._tw_schema(
                snap.schema, self._needs_schema_merge(snap)
            ),
        ).parquet(*(os.path.join(self.path, r) for r in rels))
        dv_rels = [r for r in rels if snap.files[r].get("deletionVector")]
        if dv_rels or with_rel:
            # the rel path must come from the rows' OWN file metadata,
            # attached BEFORE any join: input_file_name() cannot
            # resolve across the anti-join's two sources
            sub = sub.withColumn(
                "_rel", self._rel_from("_metadata.file_path")
            )
        if dv_rels:
            sub = sub.withColumn("_pos", F.col("_metadata.row_index"))
            sidecars = sorted(
                {
                    snap.files[r]["deletionVector"]["storagePath"]
                    for r in dv_rels
                }
            )
            dvp = None
            for sidecar in sidecars:
                one = self.spark.read.parquet(
                    os.path.join(self.path, sidecar)
                )
                dvp = one if dvp is None else dvp.unionByName(one)
            dvp = dvp.select(
                F.col("rel").alias("_rel"), F.col("pos").alias("_pos")
            )
            sub = sub.join(dvp, ["_rel", "_pos"], "left_anti").drop("_pos")
        # EXISTS_DEFAULT: every rewrite path reads through this, so a
        # compaction/DML rewrite MATERIALIZES the default into its
        # output files instead of burying a stored NULL (after which
        # the rewritten files simply contain the value — the fill
        # no-ops for them on later reads)
        sub = self._exists_default_fill(snap, sub, rels)
        if dv_rels and not with_rel:
            sub = sub.drop("_rel")
        return sub

    def _scan_with_row_ids(
        self, snap: Snapshot, rels, with_rel: bool = False
    ) -> DataFrame:
        """Logical-schema scan of the given logged files with a
        ``_row_id`` column attached and active deletion vectors
        applied. Materialized files (rewrites tagged
        ``delta.rowTracking.materialized``) read their hidden physical
        row-id column; fresh files compute baseRowId +
        ``_metadata.row_index``. Positions are the PRE-DV physical
        file indexes, so ids are stable under deletion vectors by
        construction. The per-file base map is file-count-sized
        driver metadata, broadcast — never a row-scaled collect."""
        mat = snap.configuration.get(self._RT_MAT_KEY)
        if snap.configuration.get(self._RT_KEY) != "true" or not mat:
            raise ValueError(
                "row tracking is not enabled on this table "
                "(enable_row_tracking())"
            )
        rels = sorted(rels)
        if any(os.path.isabs(r) for r in rels):
            raise NotImplementedError(
                "row-id reads over absolute file references (shallow "
                "clones) are not supported"
            )
        missing = [
            r for r in rels if snap.files[r].get("baseRowId") is None
        ]
        if missing:
            raise RuntimeError(
                f"adds without baseRowId in a row-tracked table: "
                f"{missing[:3]}"
            )
        matd = {
            r
            for r in rels
            if (snap.files[r].get("tags") or {}).get(self._RT_MAT_TAG)
            == "true"
        }
        fresh = [r for r in rels if r not in matd]

        def with_pos(sub: DataFrame) -> DataFrame:
            return sub.withColumn(
                "_rel", self._rel_from("_metadata.file_path")
            ).withColumn("_pos", F.col("_metadata.row_index"))

        parts: list[DataFrame] = []
        if fresh:
            sub = with_pos(
                self._reader(
                    {r: snap.files[r] for r in fresh},
                    self._needs_schema_merge(snap),
                    self._tw_schema(
                        snap.schema, self._needs_schema_merge(snap)
                    ),
                ).parquet(
                    *(os.path.join(self.path, r) for r in fresh)
                )
            )
            if len(fresh) <= 4096:
                # rel -> baseRowId as a PLAN-LITERAL map (2 entries
                # per file, the same bounded-literal class as the
                # centroid matrices elsewhere): one projection, no
                # join node — measured ~25% faster than the broadcast
                # join at sf1, whose join-key hashing re-evaluates the
                # _rel decode expression per probe
                mapping = F.create_map(
                    *[
                        F.lit(x)
                        for r in fresh
                        for x in (r, int(snap.files[r]["baseRowId"]))
                    ]
                )
                sub = sub.withColumn(
                    "_row_id", mapping[F.col("_rel")] + F.col("_pos")
                )
            else:
                # very large snapshots: the map literal would bloat
                # the plan, so ship the base map as a broadcast join
                # (file-count rows — standard dimension traffic)
                base_df = self.spark.createDataFrame(
                    [(r, int(snap.files[r]["baseRowId"])) for r in fresh],
                    "_rel string, _base long",
                )
                sub = (
                    sub.join(F.broadcast(base_df), "_rel")
                    .withColumn("_row_id", F.col("_base") + F.col("_pos"))
                    .drop("_base")
                )
            parts.append(
                sub.select(
                    "_rel",
                    "_pos",
                    "_row_id",
                    *self._logical_casts(snap.schema, set(sub.columns)),
                )
            )
        if matd:
            ms = sorted(matd)
            mat_schema = self._tw_schema(
                snap.schema, self._needs_schema_merge(snap)
            )
            if mat_schema is not None:
                # the materialized row-id column is PHYSICAL-only
                # (never in the logical schema): an explicit scan
                # schema must request it or the scan won't surface it
                mat_schema = T.StructType(
                    list(mat_schema)
                    + [T.StructField(mat, T.LongType(), True)]
                )
            sub = with_pos(
                self._reader(
                    {r: snap.files[r] for r in ms},
                    self._needs_schema_merge(snap),
                    mat_schema,
                ).parquet(
                    *(os.path.join(self.path, r) for r in ms)
                )
            )
            sub = sub.withColumn("_row_id", F.col(mat).cast("long"))
            parts.append(
                sub.select(
                    "_rel",
                    "_pos",
                    "_row_id",
                    *self._logical_casts(snap.schema, set(sub.columns)),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        sidecars = sorted(
            {
                snap.files[r]["deletionVector"]["storagePath"]
                for r in rels
                if snap.files[r].get("deletionVector")
            }
        )
        if sidecars:
            dvp = None
            for sidecar in sidecars:
                one = self.spark.read.parquet(
                    os.path.join(self.path, sidecar)
                )
                dvp = one if dvp is None else dvp.unionByName(one)
            dvp = dvp.select(
                F.col("rel").alias("_rel"), F.col("pos").alias("_pos")
            )
            out = out.join(dvp, ["_rel", "_pos"], "left_anti")
        names = [f.name for f in snap.schema] + ["_row_id"]
        return out.select(*((["_rel"] if with_rel else []) + names))

    def _change_commits(
        self, after: int, upto: int
    ) -> Iterator[ChangeCommit]:
        """The change planner: every retained commit in ``(after,
        upto]`` with its timestamp, its ``metaData`` schema (None when
        the commit keeps the schema) and its row-level change events.
        Log reads only — no SparkSession — so ``changes()`` and both
        streaming sources plan from this one walk. A commit is
        self-describing (each remove carries the deletion vector of
        the logical file it removes), so nothing before ``after`` is
        replayed."""
        for v in self.versions():
            if v <= after:
                continue
            if v > upto:
                break
            actions = self._read_actions(v)
            info = next(
                (a["commitInfo"] for a in actions if "commitInfo" in a), {}
            )
            meta = next(
                (a["metaData"] for a in actions if "metaData" in a), None
            )
            yield ChangeCommit(
                v,
                _commit_timestamp(info),
                None
                if meta is None
                else T.StructType.fromJson(json.loads(meta["schemaString"])),
                _change_events(actions),
            )

    def changes(
        self, starting_version: int, ending_version: int | None = None
    ) -> DataFrame:
        """Change data feed: row-level changes committed in versions
        ``[starting_version, ending_version]`` as a DataFrame with the
        table columns plus ``_change_type`` ('insert' | 'delete'),
        ``_commit_version``, and ``_commit_timestamp`` — the contract
        of Delta's ``table_changes``. The events come from the change
        planner (:meth:`_change_commits`) the streaming sources share:
        an overwrite appears as delete-all + insert-all, which is what
        copy-on-write truly did; ``dataChange=false`` actions —
        compaction, checkpoints — are skipped, so OPTIMIZE is
        invisible to incremental consumers; a DV commit is row-level
        'delete' events for exactly the newly-deleted positions; and a
        remove of a DV-carrying file, which records that DV, emits only
        the rows it had left alive. The fold over any range therefore
        equals the snapshot diff, DVs or not. Requires the referenced
        data files to still exist (i.e. not vacuumed past
        ``starting_version``).

        The scan itself is ordinary distributed parquet reading of
        exactly the files each commit touched — at 100 TB an
        incremental consumer reads the delta, never the table."""
        versions = self.versions()
        if not versions:
            if self._latest_checkpoint_version() is not None:
                # checkpoint-only history (foreign retention deleted
                # every JSON commit): snapshots replay fine, but a
                # change feed needs the commit records themselves
                raise ValueError(
                    "the entire JSON history was expired; the change "
                    "feed cannot be reconstructed from a checkpoint"
                )
            raise FileNotFoundError(f"not a table (no {_LOG_DIR}): {self.path}")
        latest = versions[-1]
        if ending_version is None:
            ending_version = latest
        if not 0 <= starting_version <= ending_version <= latest:
            raise ValueError(
                f"bad version range [{starting_version}, {ending_version}] "
                f"for table history 0..{latest}"
            )
        if starting_version < versions[0]:
            raise ValueError(
                f"versions below {versions[0]} were expired from the log "
                f"(expire_log); cannot stream changes from {starting_version}"
            )

        def change_cols(change: str, v: int, ts: int) -> list[Column]:
            return [
                F.lit(change).alias("_change_type"),
                F.lit(v).alias("_commit_version"),
                F.timestamp_millis(F.lit(ts)).alias("_commit_timestamp"),
            ]

        merge = self._needs_schema_merge(self.snapshot(ending_version))

        # plain (DV-less, table-rooted) change files BATCH into one
        # scan per schema era instead of one scan per (version,
        # change) group: schema.json() -> {"schema", "rows": [(rel,
        # change, version, ts), ...]}. A K-commit fold used to build
        # K parquet relations whose per-relation footer reads and
        # plan nodes dominated the query (the same one-at-a-time
        # shape the v2-checkpoint replay fix removed, 0.54s→0.13s —
        # BENCH_SF1.md); now the files read in ONE scan and a
        # broadcast membership join stamps each row's change
        # type/version/timestamp. A file carrying events in several
        # versions (insert v0, delete v3) simply has two membership
        # rows — the join fans its rows out once per event, exactly
        # the replay semantics.
        batched: dict[str, dict] = {}

        def reconstruct(
            rel_dv: dict[str, dict | None],
            schema: T.StructType,
            change: str,
            v: int,
            ts: int,
        ) -> list[DataFrame]:
            """Rows of the given files as change events. ``rel_dv``
            maps each file to the deletionVector its event carries (or
            None): DV'd positions are excluded — those rows already
            got their delete events when the DV committed, so
            replaying them here would double-count.
            Plain table-rooted files are deferred to the batched
            per-schema scan (``batched`` above); DV'd files and a
            clone's absolute source references keep their dedicated
            scans (per-sidecar anti-joins / no shared basePath)."""
            out: list[DataFrame] = []
            plain = sorted(r for r, dv in rel_dv.items() if not dv)
            direct = [r for r in plain if os.path.isabs(r)]
            rooted = [r for r in plain if not os.path.isabs(r)]
            if rooted:
                grp = batched.setdefault(
                    schema.json(), {"schema": schema, "rows": []}
                )
                grp["rows"].extend((r, change, v, ts) for r in rooted)
            if direct:
                df = self._reader(
                    direct, merge, self._tw_schema(schema, merge)
                ).parquet(
                    *[os.path.join(self.path, r) for r in direct]
                )
                out.append(
                    df.select(
                        *self._logical_casts(schema, set(df.columns)),
                        *change_cols(change, v, ts),
                    )
                )
            by_sidecar: dict[str, list[str]] = {}
            for r, dv in rel_dv.items():
                if dv:
                    by_sidecar.setdefault(dv["storagePath"], []).append(r)
            for sidecar in sorted(by_sidecar):
                rels_g = sorted(by_sidecar[sidecar])
                df = (
                    self._reader(
                        rels_g, merge, self._tw_schema(schema, merge)
                    )
                    .parquet(*[os.path.join(self.path, r) for r in rels_g])
                    .withColumn(
                        "_rel",
                        self._rel_from(
                            "_metadata.file_path", self._dv_root(sidecar)
                        ),
                    )
                    .withColumn("_pos", F.col("_metadata.row_index"))
                )
                dvp = self.spark.read.parquet(
                    os.path.join(self.path, sidecar)
                ).select(
                    F.col("rel").alias("_rel"), F.col("pos").alias("_pos")
                )
                out.append(
                    df.join(dvp, ["_rel", "_pos"], "left_anti").select(
                        *self._logical_casts(schema, set(df.columns)),
                        *change_cols(change, v, ts),
                    )
                )
            return out

        def dv_delta(
            e: ChangeEvent, schema: T.StructType, v: int, ts: int
        ) -> DataFrame:
            """A DV commit's rows of ``e.path``: the positions in
            ``e.dv`` not in ``e.dv_old`` — the anti-join of the two
            sidecars' positions for the file."""

            def positions(dv: dict) -> DataFrame:
                return (
                    self.spark.read.parquet(
                        os.path.join(self.path, dv["storagePath"])
                    )
                    .filter(F.col("rel") == e.path)
                    .select(F.col("pos").alias("_pos"))
                )

            pos = positions(e.dv)
            if e.dv_old is not None:
                pos = pos.join(positions(e.dv_old), ["_pos"], "left_anti")
            df = (
                self._reader(
                    [e.path], merge, self._tw_schema(schema, merge)
                )
                .parquet(os.path.join(self.path, e.path))
                .withColumn("_pos", F.col("_metadata.row_index"))
            )
            return df.join(pos, ["_pos"], "left_semi").select(
                *self._logical_casts(schema, set(df.columns)),
                *change_cols(e.change, v, ts),
            )

        # ONE forward walk of the log tracks the schema in force at
        # each version (metadata-only, O(history) log reads total —
        # not a snapshot() replay per version in the range). When the
        # older log was expired, the checkpoint at-or-before the FIRST
        # retained commit seeds the schema — never a newer one, whose
        # schema could postdate a schema evolution inside the replay
        # range and mis-cast the commits before it.
        parts: list[DataFrame] = []
        schema: T.StructType | None = None
        if versions[0] > 0:
            ckpt = self._best_checkpoint_at_or_before(versions[0])
            if ckpt is not None:
                schema = self.snapshot(ckpt).schema
        for c in self._change_commits(versions[0] - 1, ending_version):
            # removed and DV-changed files were written under the
            # schema in force BEFORE this commit; added files under
            # the schema AS OF it
            schema_before = schema
            if c.schema is not None:
                schema = c.schema
            if c.version < starting_version:
                continue
            v, ts = c.version, c.timestamp_ms
            era = {"delete": schema_before, "insert": schema}
            files: dict[str, dict[str, dict | None]] = {
                "delete": {},
                "insert": {},
            }
            for e in c.events:
                if e.mode == "anti":
                    files[e.change][e.path] = e.dv
                elif schema_before is not None:
                    parts.append(dv_delta(e, schema_before, v, ts))
            for change, rel_dv in files.items():
                if rel_dv and era[change] is not None:
                    parts.extend(
                        reconstruct(rel_dv, era[change], change, v, ts)
                    )

        for grp in batched.values():
            schema_g: T.StructType = grp["schema"]
            rows = grp["rows"]
            rels_g = sorted({row[0] for row in rows})
            scan = self._reader(
                rels_g, merge, self._tw_schema(schema_g, merge)
            ).parquet(*[os.path.join(self.path, r) for r in rels_g])
            avail = set(scan.columns)
            # row -> event stamp: match each row's source file against
            # the membership table. Writer-generated parquet basenames
            # are uuid-unique, so one substring_index is the whole
            # per-row key (the full-rel alternative costs a per-row
            # url_decode+substring chain — measured 1.5x slower on
            # the fold); the guarded fallback keeps correctness if a
            # log ever carries colliding basenames across directories
            base_of = {r: r.rsplit("/", 1)[-1] for r in rels_g}
            if len(set(base_of.values())) == len(rels_g):
                key_col = F.substring_index(
                    F.col("_metadata.file_path"), "/", -1
                )
                memb_rows = [
                    (base_of[r], c, v, ts) for r, c, v, ts in rows
                ]
            else:
                key_col = self._rel_from("_metadata.file_path")
                memb_rows = rows
            membership = self.spark.createDataFrame(
                memb_rows,
                "`_cdf_key` string, `_change_type` string, "
                "`_commit_version` int, `_ts` long",
            )
            parts.append(
                scan.withColumn("_cdf_key", key_col)
                .join(F.broadcast(membership), "_cdf_key")
                .select(
                    *self._logical_casts(schema_g, avail),
                    F.col("_change_type"),
                    F.col("_commit_version"),
                    F.timestamp_millis(F.col("_ts")).alias(
                        "_commit_timestamp"
                    ),
                )
            )

        if not parts:
            empty = T.StructType(
                list(self.snapshot(ending_version).schema)
                + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_commit_version", T.IntegerType(), False),
                    T.StructField("_commit_timestamp", T.TimestampType()),
                ]
            )
            return self.spark.createDataFrame([], empty)
        out = parts[0]
        for df in parts[1:]:
            # allowMissingColumns: a CDF window spanning a schema
            # evolution surfaces old rows with nulls in the new columns
            out = out.unionByName(df, allowMissingColumns=True)
        return out

