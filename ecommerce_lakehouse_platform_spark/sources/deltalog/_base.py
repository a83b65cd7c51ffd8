"""Shared ground for the deltalog package: typed concurrency/
schema exceptions, the replayed ``Snapshot`` dataclass, and the
module-level helpers (atomic publish, action builders, hive partition
parsing, parquet footer stats)."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any
from urllib.parse import unquote

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOG_DIR = "_delta_log"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_LAST_CHECKPOINT = "_last_checkpoint"
_SIDECAR_DIR = "_sidecars"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this version first (put-if-absent lost)."""


class CommitConflictError(ConcurrentWriteError):
    """A lost put-if-absent race whose winner LOGICALLY conflicts with
    this transaction under the protocol's conflict rules (the public
    Delta concurrency-control semantics: compare the winner's actions
    against the loser's read/remove sets) — rebasing would commit a
    wrong result, so the typed conflict surfaces to the caller.
    ``winning_version`` is the first conflicting commit."""

    def __init__(self, message: str, winning_version: int | None = None):
        super().__init__(message)
        self.winning_version = winning_version


class ConcurrentAppendError(CommitConflictError):
    """Winner added files this SERIALIZABLE transaction's read could
    have matched (Delta's ConcurrentAppendException; under the
    default write-serializable level blind appends never conflict —
    the documented anomaly)."""


class ConcurrentDeleteReadError(CommitConflictError):
    """Winner removed a file this transaction READ (Delta's
    ConcurrentDeleteReadException)."""


class ConcurrentDeleteDeleteError(CommitConflictError):
    """Winner removed a file this transaction also removes (Delta's
    ConcurrentDeleteDeleteException)."""


class MetadataChangedError(CommitConflictError):
    """Winner changed the table metadata — schema, partitioning, or
    configuration (Delta's MetadataChangedException)."""


class ProtocolChangedError(CommitConflictError):
    """Winner upgraded the table protocol (Delta's
    ProtocolChangedException)."""


class ConcurrentTransactionError(CommitConflictError):
    """Winner committed a ``txn`` action for the same application id
    (Delta's ConcurrentTransactionException — the idempotent-sink
    ledger moved underneath this writer)."""


class SchemaMismatchError(ValueError):
    """Write schema differs from the table schema and evolution was
    not requested (Delta schema enforcement)."""


class ConstraintViolationError(ValueError):
    """A write contained rows violating a CHECK constraint
    (``delta.constraints.<name>`` in the table configuration)."""


@dataclass
class Snapshot:
    """Replayed state of the log as of one version."""

    version: int
    schema: T.StructType
    partition_columns: list[str]
    files: dict[str, dict[str, Any]] = field(default_factory=dict)
    # files: relative path -> its `add` action payload
    # app_versions: streaming-writer appId -> highest committed txn
    # version (the Delta protocol's `txn` action — the idempotence
    # ledger that gives foreachBatch sinks exactly-once)
    app_versions: dict[str, int] = field(default_factory=dict)
    # configuration: the metaData's key/value table properties —
    # carries `delta.constraints.<name>` CHECK constraints and
    # `delta.columnMapping.mode`
    configuration: dict[str, str] = field(default_factory=dict)
    # the protocol's reader/writer gates as replayed
    min_reader: int = 1
    min_writer: int = 1
    # domain_metadata: the protocol's domainMetadata actions, latest
    # configuration string per domain (row tracking keeps its row-id
    # high watermark in domain "delta.rowTracking")
    domain_metadata: dict[str, str] = field(default_factory=dict)
    # table features (PROTOCOL.md "Table Features"): the feature-name
    # lists a reader-3/writer-7 protocol action carries; empty on
    # legacy-version tables
    reader_features: frozenset = frozenset()
    writer_features: frozenset = frozenset()
    # the replayed metaData's ``id`` — the table's name for its whole
    # life, minted once at creation (the v0 write, CLONE) and restated
    # by every later metaData commit — and its ``createdTime``
    table_id: str | None = None
    created_time: int | None = None

    def file_paths(self, base: str) -> list[str]:
        return [os.path.join(base, p) for p in sorted(self.files)]


def _all_match(conds: list[Column]) -> Column:
    """AND-fold of the given predicates (TRUE when empty)."""
    out = F.lit(True)
    for c in conds:
        out = out & c
    return out


def _atomic_publish(tmp: str, final: str) -> None:
    """Put-if-absent publish of a staged commit file.

    ``os.link`` fails with EEXIST when the destination exists, which
    is the atomic winner-takes-the-version primitive the protocol
    requires (real deployments get it from their object store's
    conditional put; HDFS-style stores get it from atomic rename
    without overwrite)."""
    try:
        os.link(tmp, final)
    except FileExistsError as exc:
        raise ConcurrentWriteError(
            f"version file already committed: {os.path.basename(final)}"
        ) from exc
    finally:
        os.unlink(tmp)


def _remove_action(
    add: dict[str, Any], now_ms: int, data_change: bool = True
) -> dict[str, Any]:
    """The ``remove`` of a snapshot's logical file — its path PLUS the
    deletion vector active on it, which the protocol records on the
    remove itself. Every commit then says which rows it removed, so
    change planning reads them from the commit, never from replayed
    DV state."""
    rm = {
        "path": add["path"],
        "deletionTimestamp": now_ms,
        "dataChange": data_change,
    }
    if add.get("deletionVector"):
        rm["deletionVector"] = add["deletionVector"]
    return {"remove": rm}


def _metadata_action(
    table_id: str | None,
    schema: T.StructType,
    partition_columns: list[str],
    configuration: dict[str, str],
    created_time: int | None,
) -> dict[str, Any]:
    """The ``metaData`` action committing ``schema``, the partition
    layout and the table properties (CHECK constraints included) as
    the metadata of table ``table_id`` from this version on."""
    return {
        "metaData": {
            "id": table_id,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(),
            "partitionColumns": list(partition_columns),
            "configuration": dict(configuration),
            "createdTime": created_time,
        }
    }


def _protocol_action(snap: Snapshot) -> dict[str, Any]:
    """The snapshot's protocol as replayed. Feature lists exist only
    on the table-feature versions (reader 3, writer 7); a legacy
    table's gates are its version numbers alone."""
    protocol: dict[str, Any] = {
        "minReaderVersion": snap.min_reader,
        "minWriterVersion": snap.min_writer,
    }
    if snap.min_reader >= 3:
        protocol["readerFeatures"] = sorted(snap.reader_features)
    if snap.min_writer >= 7:
        protocol["writerFeatures"] = sorted(snap.writer_features)
    return {"protocol": protocol}


def _state_actions(snap: Snapshot) -> list[dict[str, Any]]:
    """The snapshot restated as actions — what a checkpoint stores:
    its protocol, its metaData under the table's id, one ``txn`` per
    app, one ``domainMetadata`` per live domain and one ``add`` per
    file. A restatement is not a change, so adds carry
    ``dataChange=false``."""
    return [
        _protocol_action(snap),
        _metadata_action(
            snap.table_id,
            snap.schema,
            snap.partition_columns,
            snap.configuration,
            snap.created_time,
        ),
        *(
            {"txn": {"appId": app, "version": version}}
            for app, version in sorted(snap.app_versions.items())
        ),
        *(
            {
                "domainMetadata": {
                    "domain": domain,
                    "configuration": config,
                    "removed": False,
                }
            }
            for domain, config in sorted(snap.domain_metadata.items())
        ),
        *(
            {"add": {**snap.files[rel], "dataChange": False}}
            for rel in sorted(snap.files)
        ),
    ]


def _every_file(add: dict[str, Any]) -> bool:
    """Read predicate of a transaction that read the whole table."""
    return True


def _commit_timestamp(info: dict[str, Any]) -> int:
    """A commit's effective timestamp: the in-commit timestamp when
    the feature stamped one (authoritative and monotonic), else the
    writer clock."""
    return int(info.get("inCommitTimestamp", info.get("timestamp", 0)))


def _parse_partition_values(relpath: str) -> dict[str, str | None]:
    """Recover partitionValues from a hive-style relative path
    (``col=val/.../part-*.parquet``), un-escaping the writer's URL
    encoding and mapping the hive null sentinel back to None."""
    values: dict[str, str | None] = {}
    for segment in relpath.split("/")[:-1]:
        name, _, raw = segment.partition("=")
        values[name] = None if raw == _HIVE_NULL else unquote(raw)
    return values


def _stats_value(v):
    """JSON-safe stats value: numbers pass through, date/time become
    ISO strings, bytes decode best-effort — anything else is dropped
    (returning None skips the column: data skipping must only ever be
    conservative)."""
    import datetime
    import decimal

    if isinstance(v, bool) or v is None:
        return None  # boolean min/max carries no skipping power
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, str):
        return v
    return None


def _file_stats_json(path: str) -> str | None:
    """Per-file statistics for the ``add`` action, read from the
    parquet FOOTER the writer already produced (one footer per file,
    O(files) driver metadata — no data scan): ``numRecords`` plus
    ``minValues``/``maxValues`` per top-level column where every row
    group carries min/max. This is the Delta protocol's ``stats``
    string — the metadata that lets a reader skip files whose range
    cannot match a predicate, which at 100 TB is the difference
    between a metadata lookup and a full scan."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(path).metadata
    except Exception:
        return None
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    complete: dict[str, bool] = {}
    for r in range(md.num_row_groups):
        rg = md.row_group(r)
        for c in range(rg.num_columns):
            col = rg.column(c)
            name = col.path_in_schema
            if "." in name:  # nested leaf — skip, top-level only
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                complete[name] = False
                continue
            lo, hi = _stats_value(st.min), _stats_value(st.max)
            if lo is None or hi is None:
                complete[name] = False
                continue
            if complete.setdefault(name, True):
                mins[name] = lo if name not in mins else min(mins[name], lo)
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    for name, ok in complete.items():
        if not ok:  # a row group without min/max poisons the column
            mins.pop(name, None)
            maxs.pop(name, None)
    return json.dumps(
        {"numRecords": md.num_rows, "minValues": mins, "maxValues": maxs},
        separators=(",", ":"),
    )


def _column_nonnull_count(path: str, name: str) -> int | None:
    """Non-null value count of top-level column ``name`` from the
    parquet FOOTER alone (no data scan): Σ over row groups of
    ``num_rows − null_count``. Returns ``None`` when the footer is
    unreadable or any row group lacks a null_count stat — callers
    must treat that as "unknown", NOT as zero: the distinction
    between "column verifiably all-NULL" and "stat unavailable" is
    exactly what the identity watermark needs (a missing min/max with
    non-null values present means the watermark would silently stay
    behind the committed ids). A column absent from every row group
    is 0 — structurally no values."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(path).metadata
    except Exception:
        return None
    total = 0
    found = False
    for r in range(md.num_row_groups):
        rg = md.row_group(r)
        for c in range(rg.num_columns):
            col = rg.column(c)
            if col.path_in_schema != name:
                continue
            found = True
            st = col.statistics
            if st is None or st.null_count is None:
                return None
            total += rg.num_rows - st.null_count
    return total if found else 0


def _stats_overlap(add: dict[str, Any], column: str, lo, hi) -> bool:
    """Can this add action's file contain a value of ``column`` in
    [lo, hi]? Conservative: no stats (or incomparable domains) → True.
    Comparisons happen in the stats' stored JSON domain (numbers as
    numbers; dates/timestamps/strings as ISO/string form, which for
    ISO dates orders identically to the values)."""
    raw = add.get("stats")
    if not raw:
        return True
    st = json.loads(raw)
    fmin = st.get("minValues", {}).get(column)
    fmax = st.get("maxValues", {}).get(column)
    if fmin is None or fmax is None:
        return True
    try:
        if lo is not None and fmax < lo:
            return False
        if hi is not None and fmin > hi:
            return False
    except TypeError:
        return True  # incomparable domains: keep
    return True


def _checkpoint_arrow_schema():
    """Arrow schema of the checkpoint parquet: one row per consolidated
    action, the non-matching action structs null — the layout the
    protocol specifies (a checkpoint is the replayed state as a table,
    not a JSON transcript)."""
    import pyarrow as pa

    return pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                        # table-feature lists (null on legacy-version
                        # tables; old checkpoints simply lack them)
                        ("readerFeatures", pa.list_(pa.string())),
                        ("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("format", pa.struct([("provider", pa.string())])),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", pa.map_(pa.string(), pa.string())),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", pa.map_(pa.string(), pa.string())),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        ("tags", pa.map_(pa.string(), pa.string())),
                        (
                            "deletionVector",
                            pa.struct(
                                [
                                    ("storagePath", pa.string()),
                                    ("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                        ("baseRowId", pa.int64()),
                    ]
                ),
            ),
            (
                "txn",
                pa.struct(
                    [
                        ("appId", pa.string()),
                        ("version", pa.int64()),
                    ]
                ),
            ),
            (
                "domainMetadata",
                pa.struct(
                    [
                        ("domain", pa.string()),
                        ("configuration", pa.string()),
                        ("removed", pa.bool_()),
                    ]
                ),
            ),
            # v2 checkpoints only (PROTOCOL.md "V2 Checkpoint Table
            # Feature"): the manifest's file actions live in SIDECAR
            # parquet files under _delta_log/_sidecars, one manifest
            # row per sidecar; v1 checkpoints leave the column null
            (
                "sidecar",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("sizeInBytes", pa.int64()),
                    ]
                ),
            ),
        ]
    )

