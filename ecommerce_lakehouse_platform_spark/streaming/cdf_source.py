"""Structured Streaming source for the mini Delta log's change feed.

``spark.readStream.format("minidelta_cdf").load(path)`` streams the
table's row-level change events — the same contract as
``MiniDeltaTable.changes()`` (insert/delete rows plus
``_change_type`` / ``_commit_version`` / ``_commit_timestamp``) — as
commits land, with LOG VERSIONS as streaming offsets. Built on Spark
4's Python DataSource API (``pyspark.sql.datasource``,
SPARK-44076): offsets checkpoint/replay deterministically, so a
restarted query resumes at exactly the next unprocessed commit —
the incremental-consumer contract of Delta's own streaming CDF
source (public docs: ``readStream.option("readChangeFeed",...)``).

Execution shape, designed for the API's split:

* DRIVER (``partitions``): the deltalog change planner
  (``MiniDeltaTable._change_commits``, the one ``changes()`` uses)
  walks the micro-batch's commits ``(start, end]`` and each of its
  events becomes one InputPartition: a whole file inserted or deleted
  under its deletion-vector mask, or a DV commit's position delta.
  Every remove carries the DV of the file it removes, so no log state
  before ``start`` is replayed or cached. No data is touched on the
  driver.
* EXECUTORS (``read``): each partition reads ITS one parquet file
  with pyarrow, applies its DV position mask by file row index, and
  emits Arrow RecordBatches directly (the DataSource API's batch
  path) in the stream's logical column order — column mapping's
  physical→logical rename included. The partition stays columnar
  from file to engine: NO Python row loop at any point.

Partitioned tables stream too: each partition's values come from
the LOG (the add action's ``partitionValues``; removes recover them
from the hive path) and are re-typed executor-side — string /
integral / date partition columns, the canonically-string-cast types.

Honest subset (all loudly guarded): the stream's schema is fixed at
query start — a commit whose PARSED schema differs inside the range
raises, which is the real Delta streaming source's behavior too,
UNLESS the pinned schema subsumes it (columns the history hadn't
added yet null-fill; types the pinned ``delta.typeChanges``
provenance widened upcast in-scan), so full-history replays over
merge-schema and type-widening evolutions work;
expired-log ranges refuse both at fresh start (``initialOffset``) and
on a checkpointed resume whose next unprocessed commit has been
vacuumed past (``partitions`` names the earliest retained version);
exotic partition-column types refuse at query start.

Admission control: ``maxVersionsPerTrigger`` caps how many log
versions a micro-batch may span, so a consumer resuming after long
downtime (or starting at version 0 of a long-lived table) drains the
backlog in bounded micro-batches instead of one giant one — the
semantics of Delta's own ``maxFilesPerTrigger``-family options,
implemented source-side: ``latestOffset`` simply advances at most N
versions past the highest offset this reader has planned or
committed (the anchor). The anchor seeds from ``startingVersion`` at
construction; on a checkpointed restart Spark re-plans the logged
batch BEFORE asking for a new latest offset (observed engine
behavior, pinned by test), which re-anchors at the checkpoint, so
the cap can never report an offset behind the committed one. Under
``Trigger.AvailableNow`` (which the engine downgrades to a single
batch for Python sources) a capped run processes only N versions and
terminates; the remainder drains on the next run — the documented
trade of pairing the two options. ``maxBytesPerTrigger`` ('k'/'m'/'g'
suffixes accepted) is the byte-denominated companion: the reported
offset stops before the version that would push the admitted
dataChange add-file bytes over the cap, always admitting at least
one version so an oversized commit passes alone instead of wedging
the stream. Both caps compose — the stricter wins per trigger. The
accounting is driver-side log metadata only (commit JSON, no data
files touched), mirroring Delta's own soft-max semantics.

Register once per session with :func:`register_cdf_source`; the
format name is ``minidelta_cdf``. ``startingVersion`` accepts a
version number or ``"latest"`` (only commits after query start).

A sibling format ``minidelta_stream`` (:class:`MiniDeltaTableStream
Reader`) tails the TABLE's appended rows instead of its change feed —
the contract of ``spark.readStream.format("delta")``: append commits
stream, change commits raise unless ``skipChangeCommits`` /
``ignoreDeletes``, housekeeping is invisible. It shares this module's
planner, offset, admission-control, expiry, schema-pin, and
Arrow-emission machinery; its change-commit rule is a filter over the
planner's events.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone
from typing import Any
from collections.abc import Iterator

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

_CDF_COLS = [
    T.StructField("_change_type", T.StringType()),
    T.StructField("_commit_version", T.IntegerType(), False),
    T.StructField("_commit_timestamp", T.TimestampType()),
]


def _read_compatible(
    committed: T.StructType, pinned: T.StructType
) -> bool:
    """Can a commit written under ``committed`` be replayed under the
    stream's ``pinned`` (query-start) schema? Yes when every committed
    field exists in pinned with the same type OR a type the pinned
    field's ``delta.typeChanges`` provenance records as widened-from
    (the executor reads each file's own footer and casts per column,
    so narrower historical types and later-added columns replay
    losslessly). Pinned-only fields null-fill. Anything else — a
    rename, a drop, a rewrite the provenance does not explain — is a
    genuine mid-stream schema change and must stop the query."""
    pinned_by_name = {f.name: f for f in pinned}
    for f in committed:
        pf = pinned_by_name.get(f.name)
        if pf is None:
            return False
        if f.dataType == pf.dataType:
            continue
        froms = {
            c.get("fromType")
            for c in (pf.metadata or {}).get("delta.typeChanges", [])
        }
        if f.dataType.simpleString() not in froms:
            return False
    return True


def _log_table(path: str):
    """Log-metadata-only handle: every method used here (versions,
    _read_actions, snapshot, _change_commits) is pure file I/O — no
    SparkSession is ever touched, so None is safe."""
    from ..sources.deltalog import MiniDeltaTable

    return MiniDeltaTable(None, path)


class _CDFPartition(InputPartition):
    def __init__(self, spec: dict[str, Any]):
        self.spec = spec


def _parse_bytes(raw: str) -> int:
    """'10485760' | '10k' | '50m' | '1g' → bytes (Delta's
    maxBytesPerTrigger accepts the same suffixed forms)."""
    s = str(raw).strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}.get(s[-1:], None)
    if mult is not None:
        s = s[:-1]
    return int(s) * (mult or 1)


def _version_add_bytes(tbl, version: int) -> int:
    """One commit's admitted byte cost: the sum of its dataChange add
    actions' file sizes — what the batch will actually scan for
    insert events (delete events re-read removed files, but remove
    actions don't log a size; counting add bytes mirrors Delta's own
    streaming-source accounting and keeps the cap a soft maximum)."""
    total = 0
    for a in tbl._read_actions(version):
        add = a.get("add")
        if add and add.get("dataChange", True):
            total += int(add.get("size") or 0)
    return total


class MiniDeltaCDFStreamReader(DataSourceStreamReader):
    _WITH_CDF_COLS = True

    def __init__(self, options: dict[str, str], schema: T.StructType):
        # the engine lower-cases DataSource option keys: accept both
        # spellings (a camelCase-only lookup silently ignores the
        # option set via .option("startingVersion", ...))
        opts = {k.lower(): v for k, v in options.items()}
        self._path = opts.get("path")
        if not self._path:
            raise ValueError("minidelta_cdf requires a path (load(path))")
        raw_start = opts.get("startingversion", "0")
        # "latest": consume only commits AFTER query start — the
        # tail-the-table mode an alerting/replication consumer wants
        if str(raw_start) == "latest":
            self._starting = _log_table(self._path).versions()[-1] + 1
        else:
            self._starting = int(raw_start)
        if self._starting < 0:
            raise ValueError(
                f"startingVersion must be >= 0, got {self._starting}"
            )
        raw_max = opts.get("maxversionspertrigger")
        self._max_versions = None if raw_max is None else int(raw_max)
        if self._max_versions is not None and self._max_versions < 1:
            raise ValueError(
                f"maxVersionsPerTrigger must be >= 1, got {raw_max}"
            )
        raw_bytes = opts.get("maxbytespertrigger")
        self._max_bytes = (
            None if raw_bytes is None else _parse_bytes(raw_bytes)
        )
        if self._max_bytes is not None and self._max_bytes < 1:
            raise ValueError(
                f"maxBytesPerTrigger must be >= 1, got {raw_bytes!r}"
            )
        # admission-control anchor: the highest offset this reader has
        # planned or committed. Seeds from startingVersion (fresh
        # queries cap their FIRST batch too); a checkpointed restart
        # re-plans the logged batch before the first latestOffset call
        # (engine behavior, pinned by test), moving the anchor to the
        # checkpoint before the cap is ever consulted.
        self._anchor = self._starting - 1
        self._schema = schema
        tbl = _log_table(self._path)
        snap = tbl.snapshot()
        _SUPPORTED_PART = (
            T.StringType, T.IntegerType, T.LongType, T.ShortType,
            T.ByteType, T.DateType,
        )
        for f in snap.schema:
            if f.name in snap.partition_columns and not isinstance(
                f.dataType, _SUPPORTED_PART
            ):
                raise NotImplementedError(
                    f"partition column {f.name!r} has type "
                    f"{f.dataType.simpleString()}; minidelta_cdf "
                    "re-types partition values from their hive "
                    "strings and supports string/integral/date only"
                )
        self._pcols = set(snap.partition_columns)
        # the stream's schema is pinned at query start — kept as a
        # PARSED StructType so the mid-stream change check compares
        # schemas semantically, not by JSON text (a semantically
        # identical schema serialized with a different key order by
        # another writer must not kill the stream)
        self._pinned_schema = snap.schema
        # full OUTPUT schema shipped with each partition spec:
        # executors rebuild the exact Arrow schema the engine expects
        # and emit RecordBatches directly. The CDF source appends the
        # three CDF columns; the plain table source emits the table
        # schema alone (read() keys off the fields' presence).
        self._out_schema_json = T.StructType(
            list(snap.schema) + (_CDF_COLS if self._WITH_CDF_COLS else [])
        ).json()
        # (physical, logical, type, is_partition) in logical order —
        # partition columns are absent from the data files; their
        # values ride in each partition's spec and re-type on emission
        from ..sources.deltalog import MiniDeltaTable

        self._cols = [
            (
                MiniDeltaTable._phys(f),
                f.name,
                f.dataType.simpleString(),
                f.name in self._pcols,
            )
            for f in snap.schema
        ]

    # -- offsets ----------------------------------------------------------

    def initialOffset(self) -> dict:
        # called on FRESH starts only (a checkpointed restart resumes
        # from the offset log), so this is where a startingVersion
        # that predates the retained log refuses — a RESTARTED query
        # with the same (now-expired) startingVersion but a
        # later checkpoint must NOT refuse here
        versions = _log_table(self._path).versions()
        if self._starting <= versions[-1] and self._starting < versions[0]:
            raise ValueError(
                f"startingVersion {self._starting} predates the retained "
                f"log (oldest retained: {versions[0]})"
            )
        return {"version": self._starting - 1}

    def latestOffset(self) -> dict:
        tbl = _log_table(self._path)
        versions = tbl.versions()
        latest = versions[-1]
        if self._max_versions is None and self._max_bytes is None:
            return {"version": latest}
        # advance at most N RETAINED versions / B added bytes past the
        # anchor — the admission-control contract; returning the
        # anchor itself (offset unchanged) means "no new data this
        # trigger"
        pending = [v for v in versions if v > self._anchor]
        if not pending:
            return {"version": max(self._anchor, latest)}
        if self._max_versions is not None:
            pending = pending[: self._max_versions]
        if self._max_bytes is not None:
            # SOFT byte cap, Delta's maxBytesPerTrigger semantics: the
            # batch always admits at least one version (the stream
            # must progress past an oversized commit), then stops
            # BEFORE the version that would push the admitted
            # dataChange add-file bytes over the cap. Driver-side log
            # metadata only — commits' JSON is parsed, no data read.
            admitted = 0
            cut = 1
            for i, v in enumerate(pending):
                cost = _version_add_bytes(tbl, v)
                if i > 0 and admitted + cost > self._max_bytes:
                    break
                admitted += cost
                cut = i + 1
            pending = pending[:cut]
        return {"version": pending[-1]}

    def commit(self, end: dict) -> None:
        # offsets are the durable state; nothing to release — but the
        # committed end is an admission-control anchor floor
        self._anchor = max(self._anchor, int(end["version"]))

    # -- planning (driver) --------------------------------------------------

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo, hi = int(start["version"]), int(end["version"])
        # anchor BOTH bounds: on a checkpointed restart the engine
        # re-plans the logged batch before asking for a new latest
        # offset, so this is what tells the admission-control cap
        # where the checkpoint actually is
        self._anchor = max(self._anchor, lo, hi)
        if hi <= lo:
            return []
        tbl = _log_table(self._path)
        oldest = tbl.versions()[0]
        if lo + 1 < oldest:
            # the checkpoint's next unprocessed commit predates the
            # retained log (expire_log/VACUUM ran while the consumer
            # was down): refusing with the earliest retained version
            # beats silently resuming with a gap in the feed
            raise ValueError(
                f"cannot resume the stream at version {lo + 1}: the "
                f"log has been expired up to version {oldest} "
                f"(earliest retained). Restart the query from a fresh "
                f"checkpoint with startingVersion >= {oldest}, or "
                "re-seed the consumer from a snapshot read."
            )
        from ..sources.deltalog import _parse_partition_values

        specs: list[dict[str, Any]] = []
        for c in tbl._change_commits(lo, hi):
            # parsed comparison: JSON-text equality would falsely
            # kill the stream on a semantically identical schema
            # serialized with a different key order; historical
            # schemas the pinned one subsumes (later-added columns
            # null-fill, types the typeChanges provenance widened
            # upcast in-scan) replay losslessly and must not stop
            # the query
            if (
                c.schema is not None
                and c.schema != self._pinned_schema
                and not _read_compatible(c.schema, self._pinned_schema)
            ):
                raise RuntimeError(
                    f"version {c.version} changes the table schema "
                    "mid-stream; restart the query to pick up the "
                    "new schema (the real Delta streaming source "
                    "stops here too)"
                )
            for e in self._admit(c):
                specs.append(
                    {
                        "file": os.path.join(self._path, e.path),
                        "change": e.change,
                        "version": c.version,
                        "ts_ms": c.timestamp_ms,
                        "mode": e.mode,
                        "dv": self._dv_ref(tbl, e.path, e.dv),
                        "dv_old": self._dv_ref(tbl, e.path, e.dv_old),
                        "cols": self._cols,
                        "schema": self._out_schema_json,
                        # partition values in the hive string domain:
                        # adds carry them in the log; removes recover
                        # them from the hive path
                        "pv": (
                            e.partition_values
                            if e.partition_values is not None
                            else _parse_partition_values(e.path)
                        ),
                    }
                )
        return [_CDFPartition(s) for s in specs]

    def _admit(self, commit) -> list:
        """The events of ``commit`` this source emits: all of them —
        the change feed is every row-level change."""
        return commit.events

    def _dv_ref(
        self, tbl, path: str, dv: dict | None
    ) -> tuple[str, str] | None:
        """(absolute sidecar path, rel value to match in it). A
        sidecar's ``rel`` values are relative to the table that WROTE
        it (``_dv_root``): for a shallow clone's ABSOLUTE storagePath
        that is the SOURCE root, not ours — a filter in the wrong
        domain would match nothing and silently resurrect DV-deleted
        rows."""
        if dv is None:
            return None
        sp = dv["storagePath"]
        return (
            os.path.join(self._path, sp),
            os.path.relpath(
                os.path.join(self._path, path), tbl._dv_root(sp)
            ),
        )

    # -- execution (executors) ---------------------------------------------

    def read(self, partition: _CDFPartition) -> Iterator[tuple]:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as pds
        import pyarrow.parquet as pq

        spec = partition.spec

        def positions(dv: tuple[str, str]) -> "pa.Array":
            sidecar, rel = dv
            ds = pds.dataset(sidecar, format="parquet", partitioning="hive")
            t = ds.to_table(
                columns=["pos"], filter=pds.field("rel") == rel
            )
            return t.column("pos").combine_chunks().cast(pa.int64())

        def retype(value, typename):
            if value is None:
                return None
            if typename in ("int", "bigint", "smallint", "tinyint"):
                return int(value)
            if typename == "date":
                from datetime import date

                return date.fromisoformat(value)
            return value

        pv = spec.get("pv") or {}
        wanted = [p for p, _l, _t, part in spec["cols"] if not part]
        # a file written BEFORE a merge-schema append lacks the
        # appended columns — request only what the footer has and fill
        # the rest with nulls at emission (the executor-side mirror of
        # the batch reader's parquet footer merging)
        present = set(pq.read_schema(spec["file"]).names)
        table = pq.read_table(
            spec["file"], columns=[p for p in wanted if p in present]
        )
        if spec["mode"] == "anti" and spec["dv"]:
            # Arrow-native mask — no Python row loop: row index NOT IN
            # the sidecar's dead positions
            idx = pa.array(range(table.num_rows), type=pa.int64())
            mask = pc.invert(pc.is_in(idx, value_set=positions(spec["dv"])))
            table = table.filter(mask)
        elif spec["mode"] == "semi":
            # position DELTA of the DV commit: new minus old — both
            # arrays are bounded by the commit's sidecar sizes
            delta = set(positions(spec["dv"]).to_pylist())
            if spec["dv_old"]:
                delta -= set(positions(spec["dv_old"]).to_pylist())
            table = table.take(
                sorted(i for i in delta if i < table.num_rows)
            )
        # emit Arrow RecordBatches directly (the DataSource API's
        # batch path, SPARK-48493): the whole partition stays
        # columnar from the parquet read to the engine — NO Python
        # row loop at any point, ~row-count-independent Python cost
        import json as _json

        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(
            T.StructType.fromJson(_json.loads(spec["schema"]))
        )
        ts = datetime.fromtimestamp(
            spec["ts_ms"] / 1000.0, tz=timezone.utc
        )
        n = table.num_rows
        arrays, names = [], []
        for p, l, t, part in spec["cols"]:
            ftype = target.field(l).type
            if part:
                value = retype(pv.get(l), t)
                arrays.append(
                    pa.nulls(n, type=ftype)
                    if value is None
                    else pa.repeat(pa.scalar(value, type=ftype), n)
                )
            elif p in present:
                # physical→logical rename + cast to the engine's
                # expected arrow type (parquet may differ, e.g.
                # timestamp units)
                arrays.append(table.column(p).cast(ftype))
            else:
                # column appended by a later merge-schema evolution:
                # this older file has no values for it
                arrays.append(pa.nulls(n, type=ftype))
            names.append(l)
        if target.get_field_index("_change_type") != -1:
            # CDF mode — the plain table source's schema carries only
            # the table columns, so these three never append there
            arrays.append(
                pa.repeat(
                    pa.scalar(
                        spec["change"],
                        type=target.field("_change_type").type,
                    ),
                    n,
                )
            )
            arrays.append(
                pa.repeat(
                    pa.scalar(
                        spec["version"],
                        type=target.field("_commit_version").type,
                    ),
                    n,
                )
            )
            arrays.append(
                pa.repeat(
                    pa.scalar(
                        ts, type=target.field("_commit_timestamp").type
                    ),
                    n,
                )
            )
            names += [
                "_change_type", "_commit_version", "_commit_timestamp",
            ]
        out = pa.table(arrays, names=names).cast(target)
        yield from out.to_batches(max_chunksize=1 << 16)


class MiniDeltaCDFDataSource(DataSource):
    """``format("minidelta_cdf")``: streaming change-data-feed source
    over a MiniDeltaTable path. Schema = the table's logical schema at
    query start plus the three CDF columns."""

    @classmethod
    def name(cls) -> str:
        return "minidelta_cdf"

    def schema(self) -> T.StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("minidelta_cdf requires a path (load(path))")
        snap = _log_table(path).snapshot()
        return T.StructType(list(snap.schema) + _CDF_COLS)

    def streamReader(self, schema: T.StructType):
        return MiniDeltaCDFStreamReader(dict(self.options), schema)


class MiniDeltaTableStreamReader(MiniDeltaCDFStreamReader):
    """``format("minidelta_stream")``: stream the TABLE (appended rows
    only), the contract of ``spark.readStream.format("delta")`` — most
    consumers tail the table, not its change feed.

    Semantics (the real source's, public Delta docs "Table streaming
    reads and writes"):

    * append commits (dataChange adds, no dataChange removes) stream
      each added file as rows; ``startingVersion=0`` therefore replays
      an append-only table in full;
    * a commit that REMOVES or REWRITES data (DELETE/UPDATE/MERGE/
      overwrite, DV commits included — a DV re-add pairs with a
      remove) RAISES by default: silently treating a rewrite's adds
      as new rows would duplicate them downstream. Opt-outs match the
      real options: ``skipChangeCommits=true`` skips such commits
      wholesale; ``ignoreDeletes=true`` skips REMOVE-ONLY commits
      (partition-boundary deletes). ``ignoreChanges`` (re-emit
      rewritten files) is deliberately not offered — its re-emitted
      duplicates are the behavior ``skipChangeCommits`` superseded;
      consumers who need row-level changes use ``minidelta_cdf``;
    * ``dataChange=false`` housekeeping (OPTIMIZE / REORG / bloom
      re-commits) is invisible, like the real source;
    * shared with the CDF source (same base): the change planner,
      startingVersion/"latest", maxVersionsPerTrigger + soft maxBytesPerTrigger
      admission control, expired-log refusal naming the earliest
      retained version, parsed-schema mid-stream change detection,
      executor-side Arrow batch emission, hive partition-value
      re-typing.
    """

    _WITH_CDF_COLS = False

    def __init__(self, options: dict[str, str], schema: T.StructType):
        super().__init__(options, schema)
        opts = {k.lower(): v for k, v in options.items()}

        def flag(name: str) -> bool:
            return str(opts.get(name, "false")).lower() == "true"

        self._ignore_deletes = flag("ignoredeletes")
        self._skip_change = flag("skipchangecommits")

    def _admit(self, commit) -> list:
        """The change-commit rule as a filter over the planner's
        events: an append (only whole-file inserts) streams its files;
        any other data commit is skipped under ``skipChangeCommits``,
        skipped under ``ignoreDeletes`` when it only deletes whole
        files, and raises otherwise."""
        kinds = {(e.change, e.mode) for e in commit.events}
        if kinds <= {("insert", "anti")}:
            return commit.events
        if self._skip_change or (
            self._ignore_deletes and kinds == {("delete", "anti")}
        ):
            return []
        raise RuntimeError(
            f"version {commit.version} deletes or rewrites existing "
            "rows; the table stream source only tails appends. Set "
            "skipChangeCommits=true to skip such commits "
            "(ignoreDeletes=true for remove-only commits), or "
            "consume row-level changes with format 'minidelta_cdf'."
        )


class MiniDeltaStreamDataSource(DataSource):
    """``format("minidelta_stream")``: append-tail streaming source
    over a MiniDeltaTable path. Schema = the table's logical schema."""

    @classmethod
    def name(cls) -> str:
        return "minidelta_stream"

    def schema(self) -> T.StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError(
                "minidelta_stream requires a path (load(path))"
            )
        return _log_table(path).snapshot().schema

    def streamReader(self, schema: T.StructType):
        return MiniDeltaTableStreamReader(dict(self.options), schema)


def register_cdf_source(spark: SparkSession) -> None:
    """Idempotently register the ``minidelta_cdf`` and
    ``minidelta_stream`` formats on this session."""
    spark.dataSource.register(MiniDeltaCDFDataSource)
    spark.dataSource.register(MiniDeltaStreamDataSource)


def read_cdf_stream(
    spark: SparkSession,
    path: str,
    starting_version: int | str = 0,
    max_versions_per_trigger: int | None = None,
    max_bytes_per_trigger: int | str | None = None,
):
    """``readStream`` handle over the table's change feed;
    ``starting_version`` is a version number or ``"latest"``;
    ``max_versions_per_trigger`` bounds how many log versions one
    micro-batch may span; ``max_bytes_per_trigger`` (int or a
    'k'/'m'/'g'-suffixed string) soft-caps the admitted dataChange
    add-file bytes per micro-batch — at least one version always
    admits, so an oversized commit passes alone rather than wedging
    the stream. Both caps compose (the stricter wins per trigger)."""
    register_cdf_source(spark)
    reader = spark.readStream.format("minidelta_cdf").option(
        "startingVersion", str(starting_version)
    )
    if max_versions_per_trigger is not None:
        reader = reader.option(
            "maxVersionsPerTrigger", str(max_versions_per_trigger)
        )
    if max_bytes_per_trigger is not None:
        reader = reader.option(
            "maxBytesPerTrigger", str(max_bytes_per_trigger)
        )
    return reader.load(path)


def read_table_stream(
    spark: SparkSession,
    path: str,
    starting_version: int | str = 0,
    max_versions_per_trigger: int | None = None,
    max_bytes_per_trigger: int | str | None = None,
    ignore_deletes: bool = False,
    skip_change_commits: bool = False,
):
    """``readStream`` handle that tails the TABLE's appended rows
    (``format("minidelta_stream")``) — the plain Delta streaming-read
    contract. See :class:`MiniDeltaTableStreamReader` for the
    change-commit semantics and opt-outs."""
    register_cdf_source(spark)
    reader = spark.readStream.format("minidelta_stream").option(
        "startingVersion", str(starting_version)
    )
    if max_versions_per_trigger is not None:
        reader = reader.option(
            "maxVersionsPerTrigger", str(max_versions_per_trigger)
        )
    if max_bytes_per_trigger is not None:
        reader = reader.option(
            "maxBytesPerTrigger", str(max_bytes_per_trigger)
        )
    if ignore_deletes:
        reader = reader.option("ignoreDeletes", "true")
    if skip_change_commits:
        reader = reader.option("skipChangeCommits", "true")
    return reader.load(path)
