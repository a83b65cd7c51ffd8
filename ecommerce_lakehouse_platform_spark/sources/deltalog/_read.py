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
    _parse_partition_values,
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

    # set by commits that add columns; no reader consults it (every
    # scan reads with the log's schema)
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
    def _tw_schema(cls, schema: T.StructType) -> T.StructType:
        """The explicit PHYSICAL read schema of a snapshot's files,
        from the log: every column under its physical name and logged
        type, nullable. Every scan passes it, so none pays the
        schema-inference job that reads a file footer before the query
        starts, and files of every era read as one relation: a column
        a file lacks (added later, by a merge-schema append or ADD
        COLUMN) reads as NULL, and a column whose type widened since
        the file was written (``delta.typeChanges``) is upcast in-scan
        by the vectorized reader."""
        return T.StructType(
            [T.StructField(cls._phys(f), f.dataType, True) for f in schema]
        )

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

    def _scan(
        self,
        snap: Snapshot,
        rels,
        row_ids: bool = False,
        file_cols: bool = False,
        dead: bool = False,
    ) -> DataFrame:
        """The rows of the given logged files (keys of ``snap.files``)
        in ``snap``'s logical schema: the one scan every data-file read
        of the table goes through (snapshot reads, DML, OPTIMIZE, the
        bloom build, the change feed). It meets a Delta reader's
        per-file obligations once each, always in this order:

        * reader setup — ``basePath`` (hive partition recovery) when
          every path is table-rooted, and the log's physical schema
          (:meth:`_tw_schema`);
        * partition values of files outside the root (a shallow
          clone's absolute references) come from the log's
          ``partitionValues``;
        * column defaults — a file that physically lacks an
          ``EXISTS_DEFAULT`` column surfaces the default, while a
          stored NULL stays NULL;
        * row ids (``row_ids``) — ``_row_id`` is baseRowId + the
          row's file position for fresh files, the hidden
          materialized column for rewritten ones;
        * deletion vectors — one anti-join of (file, position)
          against the union of the files' sidecars; ``dead`` keeps
          the rows the vectors mark instead;
        * file columns (``file_cols``) — the file's key ``_rel`` and
          the row's position ``_pos``, for callers that join on file
          identity.

        Files are read as one parquet relation per span of files that
        need the same treatment (table-rooted or one directory outside
        the root; the same defaulted columns lacking; fresh or
        materialized row ids). A DV-less, default-less, table-rooted
        scan is therefore exactly one parquet relation with no
        ``_metadata`` column and no join. Row positions are the
        pre-DV physical ones, so row ids are stable under deletion
        vectors by construction."""
        schema, files = snap.schema, snap.files
        rels = sorted(
            r for r in rels if not dead or files[r].get("deletionVector")
        )
        extras = (["_row_id"] if row_ids else []) + (
            ["_rel", "_pos"] if file_cols else []
        )
        mat = snap.configuration.get(self._RT_MAT_KEY)
        if row_ids:
            if snap.configuration.get(self._RT_KEY) != "true" or not mat:
                raise ValueError(
                    "row tracking is not enabled on this table "
                    "(enable_row_tracking())"
                )
            if any(os.path.isabs(r) for r in rels):
                raise NotImplementedError(
                    "row-id reads over absolute file references "
                    "(shallow clones) are not supported"
                )
            missing = [r for r in rels if files[r].get("baseRowId") is None]
            if missing:
                raise RuntimeError(
                    f"adds without baseRowId in a row-tracked table: "
                    f"{missing[:3]}"
                )
        if not rels:
            return self.spark.createDataFrame(
                [],
                T.StructType(
                    list(schema)
                    + [
                        T.StructField(
                            c, T.StringType() if c == "_rel" else T.LongType()
                        )
                        for c in extras
                    ]
                ),
            )
        read_schema = self._tw_schema(schema)
        by_name = {f.name: f for f in schema}
        dvs: dict[str, list[str]] = {}
        for r in rels:
            if files[r].get("deletionVector"):
                dvs.setdefault(
                    files[r]["deletionVector"]["storagePath"], []
                ).append(r)
        with_pos = bool(dvs) or row_ids or file_cols
        # per-file presence of the EXISTS_DEFAULT columns, from a
        # driver-side footer sweep (O(files) metadata, like stats at
        # stage time); an unreadable footer counts as LACKING (the
        # scan surfaces null there anyway)
        fills = {
            self._phys_column(schema, name): F.expr(sql).cast(
                by_name[name].dataType
            )
            for name, sql in self._exists_default_fields(schema).items()
        }
        lacks: dict[str, tuple[str, ...]] = {}
        if fills:
            import pyarrow.parquet as pq

            for r in rels:
                try:
                    names = {
                        n.split(".", 1)[0]
                        for n in pq.ParquetFile(
                            os.path.join(self.path, r)
                        ).schema.names
                    }
                except (OSError, ValueError):  # ArrowInvalid
                    names = set()
                lacks[r] = tuple(p for p in fills if p not in names)
        spans: dict[tuple, list[str]] = {}
        for r in rels:
            add = files[r]
            # files outside the root span one directory each: their
            # partition values come from the log, and the directory
            # anchors the decode of their key
            root = os.path.dirname(r) if os.path.isabs(r) else ""
            pvals = add.get("partitionValues") or {}
            key = (
                root,
                tuple(pvals.get(c) for c in snap.partition_columns)
                if root
                else (),
                lacks.get(r, ()),
                row_ids
                and (add.get("tags") or {}).get(self._RT_MAT_TAG) == "true",
            )
            spans.setdefault(key, []).append(r)
        parts = []
        for (root, pvs, lacking, matd), srels in spans.items():
            span_schema = read_schema
            if matd:
                # the materialized row-id column is PHYSICAL-only: the
                # scan schema must request it
                span_schema = T.StructType(
                    list(span_schema) + [T.StructField(mat, T.LongType())]
                )
            reader = self.spark.read.schema(span_schema)
            if not root:
                reader = reader.option("basePath", self.path)
            df = reader.parquet(*(os.path.join(self.path, r) for r in srels))
            # physical column -> the value this span surfaces for it
            values = {
                self._phys(by_name[c]): F.lit(v)
                for c, v in zip(snap.partition_columns, pvs)
            }
            values.update((p, fills[p]) for p in lacking)
            # one projection to the logical schema (column mapping's
            # physical -> logical rename)
            cols = []
            for f in schema:
                p = self._phys(f)
                cols.append(
                    values.get(p, F.col(p)).cast(f.dataType).alias(f.name)
                )
            rel = self._rel_from("_metadata.file_path", root or None)
            if root:
                rel = F.concat(F.lit(root + "/"), rel)
            pos = F.col("_metadata.row_index")
            if matd:
                cols.append(F.col(mat).cast("long").alias("_row_id"))
            elif row_ids and len(srels) <= 4096:
                # rel -> baseRowId as a PLAN-LITERAL map (the same
                # bounded-literal class as the centroid matrices
                # elsewhere): no join node — measured ~25% faster than
                # the broadcast join at sf1
                mapping = F.create_map(
                    *[
                        F.lit(x)
                        for r in srels
                        for x in (r, int(files[r]["baseRowId"]))
                    ]
                )
                cols.append((mapping[rel] + pos).alias("_row_id"))
            if with_pos:
                cols += [rel.alias("_rel"), pos.alias("_pos")]
            df = df.select(*cols)
            if row_ids and not matd and len(srels) > 4096:
                # very large spans: ship the base map as a broadcast
                # join (file-count rows) instead of bloating the plan
                base = [(r, int(files[r]["baseRowId"])) for r in srels]
                df = (
                    df.join(
                        F.broadcast(
                            self.spark.createDataFrame(
                                base, "_rel string, _base long"
                            )
                        ),
                        "_rel",
                    )
                    .withColumn("_row_id", F.col("_base") + F.col("_pos"))
                    .drop("_base")
                )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if dvs:
            # each sidecar's positions, restricted to the files whose
            # deletion vector it IS (a superseded sidecar can still list
            # a file's older positions). rel values are relative to the
            # table that WROTE the sidecar: a clone's absolute
            # storagePath resolves them against the source root
            marks = None
            for sidecar, refs in dvs.items():
                key = F.col("rel")
                if os.path.isabs(sidecar):
                    key = F.concat(F.lit(self._dv_root(sidecar) + "/"), key)
                m = (
                    self.spark.read.schema("rel string, pos long")
                    .parquet(os.path.join(self.path, sidecar))
                    .select(key.alias("_rel"), F.col("pos").alias("_pos"))
                    .filter(F.col("_rel").isin(refs))
                )
                marks = m if marks is None else marks.unionByName(m)
            out = out.join(
                marks, ["_rel", "_pos"], "left_semi" if dead else "left_anti"
            )
        wanted = [f.name for f in schema] + extras
        return out if out.columns == wanted else out.select(*wanted)

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
        time travel, ``where`` skipping, deletion vectors and column
        defaults.

        The files are read by :meth:`_scan`, the one scan every path
        that reads the table's data shares (DML, OPTIMIZE, the bloom
        build and ``changes()`` too): deletion vectors, column
        defaults and row ids are applied there once, so every path
        sees the rows this method returns."""
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
        df = self._scan(snap, snap.files, row_ids=with_row_ids)
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
        """Path relative to ``root`` (default: the table root) of a
        percent-encoded file URI expression (``_metadata.file_path``):
        the raw root located inside the URI, the rest after it. A URI
        without a '%' escape is its own decoding, so only URIs that
        carry escapes pay the guarded ``url_decode`` (literal '+'
        protected first) — writer-generated paths never do, which
        keeps a per-row file key as cheap as a basename."""
        base = (root or self.path).rstrip("/")
        esc = base.replace("\\", "\\\\").replace("'", "\\'")
        # (coalesce: url_decode is typed nullable; a non-null key keeps
        # joins on it free of an inferred null filter)
        decoded = (
            f"coalesce(url_decode(regexp_replace({uri_sql}, '\\\\+', '%2B')),"
            f" {uri_sql})"
        )
        return F.expr(
            f"CASE WHEN instr({uri_sql}, '%') = 0"
            f" THEN substring({uri_sql}, instr({uri_sql}, '{esc}')"
            f" + {len(base) + 1})"
            f" ELSE substring({decoded}, instr({decoded}, '{esc}')"
            f" + {len(base) + 1}) END"
        )

    def _dv_root(self, sidecar: str) -> str:
        """The table root a DV sidecar's rel values are relative to:
        sidecars live at ``<their writer's root>/_dv/<id>``, so an
        ABSOLUTE storagePath (a shallow clone referencing its source's
        DVs) resolves to the source root; relative ones to ours."""
        if os.path.isabs(sidecar):
            return os.path.dirname(os.path.dirname(sidecar))
        return self.path

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

        The scan itself is :meth:`_scan` — ordinary distributed
        parquet reading — of exactly the files each commit touched,
        under the schema they were written with: at 100 TB an
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

        end = self.snapshot(ending_version)

        def view(schema: T.StructType, files: dict) -> Snapshot:
            """``end`` restated under the schema the files were written
            with, each file carrying the deletion vector of its event
            (``files``: path -> (deletionVector, partitionValues)) —
            the view :meth:`_scan` reads an event's rows through, so a
            delete event shows its rows exactly as ``read()`` did."""
            return dataclasses.replace(
                end,
                schema=schema,
                files={
                    p: {"path": p, "deletionVector": dv, "partitionValues": pv}
                    for p, (dv, pv) in files.items()
                },
            )

        def dv_delta(
            e: ChangeEvent, schema: T.StructType, v: int, ts: int
        ) -> DataFrame:
            """A DV commit's rows of ``e.path``: those ``e.dv`` marks
            dead, semi-joined on position to those alive under
            ``e.dv_old``."""
            pv = e.partition_values
            rows = self._scan(
                view(schema, {e.path: (e.dv, pv)}),
                [e.path],
                file_cols=True,
                dead=True,
            )
            if e.dv_old is not None:
                alive = self._scan(
                    view(schema, {e.path: (e.dv_old, pv)}),
                    [e.path],
                    file_cols=True,
                )
                rows = rows.join(alive.select("_pos"), "_pos", "left_semi")
            return rows.select(
                *[f.name for f in schema], *change_cols(e.change, v, ts)
            )

        # plain (DV-less) event files BATCH into one scan per schema
        # era instead of one scan per (version, change) group:
        # schema.json() -> {"schema", "files", "rows": [(rel, change,
        # version, ts), ...]}. A K-commit fold used to build K parquet
        # relations whose per-relation footer reads and plan nodes
        # dominated the query (the same one-at-a-time shape the
        # v2-checkpoint replay fix removed, 0.54s→0.13s —
        # BENCH_SF1.md); now the files read in ONE scan and a
        # broadcast membership join on the file key stamps each row's
        # change type/version/timestamp. A file carrying events in
        # several versions (insert v0, delete v3) simply has two
        # membership rows — the join fans its rows out once per
        # event, exactly the replay semantics.
        batched: dict[str, dict] = {}

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
            dv_files: dict[str, dict] = {"delete": {}, "insert": {}}
            for e in c.events:
                sch = era[e.change] if e.mode == "anti" else schema_before
                if sch is None:
                    continue
                # removes carry no partitionValues: a file outside the
                # root recovers them from its hive path
                pv = e.partition_values or _parse_partition_values(e.path)
                if e.mode == "semi":
                    parts.append(dv_delta(e, sch, v, ts))
                elif e.dv:
                    # the rows its DV marks dead got their delete
                    # events when that DV committed
                    dv_files[e.change][e.path] = (e.dv, pv)
                else:
                    grp = batched.setdefault(
                        sch.json(), {"schema": sch, "files": {}, "rows": []}
                    )
                    grp["files"][e.path] = (None, pv)
                    grp["rows"].append((e.path, e.change, v, ts))
            for change, files in dv_files.items():
                if files:
                    parts.append(
                        self._scan(view(era[change], files), files).select(
                            "*", *change_cols(change, v, ts)
                        )
                    )

        for grp in batched.values():
            membership = self.spark.createDataFrame(
                grp["rows"],
                "`_rel` string, `_change_type` string, "
                "`_commit_version` int, `_ts` long",
            )
            parts.append(
                self._scan(
                    view(grp["schema"], grp["files"]), grp["files"],
                    file_cols=True,
                )
                .join(F.broadcast(membership), "_rel")
                .select(
                    *[f.name for f in grp["schema"]],
                    F.col("_change_type"),
                    F.col("_commit_version"),
                    F.timestamp_millis(F.col("_ts")).alias(
                        "_commit_timestamp"
                    ),
                )
            )

        if not parts:
            empty = T.StructType(
                list(end.schema)
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

