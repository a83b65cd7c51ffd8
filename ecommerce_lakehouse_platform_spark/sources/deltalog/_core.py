"""Log plumbing: constructor, version listing, action parsing, snapshot replay, history.

One mixin of ``MiniDeltaTable``, assembled by the package ``__init__``,
whose docstring has the protocol overview."""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ._base import _LOG_DIR, Snapshot


class _CoreMixin:
    def __init__(
        self, spark: SparkSession, path: str, checkpoint_interval: int = 10
    ) -> None:
        self.spark = spark
        self.path = path
        self.log_dir = os.path.join(path, _LOG_DIR)
        self.checkpoint_interval = checkpoint_interval

    # -- log plumbing ---------------------------------------------------

    def versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for name in os.listdir(self.log_dir):
            stem, ext = os.path.splitext(name)
            if ext == ".json" and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def exists(self) -> bool:
        # a real writer's log retention may delete every JSON commit
        # up to AND INCLUDING the checkpoint version — the checkpoint
        # plus _last_checkpoint then IS the table (the minidelta's
        # own expire_log always keeps the checkpoint version's JSON,
        # but foreign logs need not)
        return bool(self.versions()) or (
            self._latest_checkpoint_version() is not None
        )

    def _version_file(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:020d}.json")

    def _read_actions(self, version: int) -> list[dict[str, Any]]:
        with open(self._version_file(version), encoding="utf-8") as fh:
            return [json.loads(line) for line in fh if line.strip()]

    def snapshot(self, version: int | None = None) -> Snapshot:
        versions = self.versions()
        # checkpoint versions are addressable even when their JSON
        # commit was retention-deleted (real delta-spark cleanup
        # removes JSON up to AND INCLUDING the checkpoint version;
        # the checkpoint is then the only record of that state)
        addressable = sorted(set(versions) | set(self._checkpoint_versions()))
        if not addressable:
            raise FileNotFoundError(f"not a table (no {_LOG_DIR}): {self.path}")
        latest = addressable[-1]
        if version is None:
            version = latest
        if version not in addressable:
            raise ValueError(
                f"version {version} not in table history 0..{latest}"
            )
        schema: T.StructType | None = None
        meta: dict[str, Any] = {}
        partition_columns: list[str] = []
        files: dict[str, dict[str, Any]] = {}
        app_versions: dict[str, int] = {}
        configuration: dict[str, str] = {}
        domain_metadata: dict[str, str] = {}
        min_reader = 1
        min_writer = 1
        reader_features: frozenset = frozenset()
        writer_features: frozenset = frozenset()

        def apply(action: dict[str, Any]) -> None:
            nonlocal schema, meta, partition_columns, configuration
            nonlocal min_reader, min_writer
            nonlocal reader_features, writer_features
            if "protocol" in action:
                min_reader = int(
                    action["protocol"].get("minReaderVersion", 1)
                )
                min_writer = int(
                    action["protocol"].get("minWriterVersion", 1)
                )
                # a protocol action REPLACES the feature lists (it is
                # the complete new protocol, not a delta); writers
                # here always emit cumulative lists
                reader_features = frozenset(
                    action["protocol"].get("readerFeatures") or ()
                )
                writer_features = frozenset(
                    action["protocol"].get("writerFeatures") or ()
                )
            elif "metaData" in action:
                meta = action["metaData"]
                schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
                partition_columns = list(meta["partitionColumns"])
                configuration = dict(meta.get("configuration") or {})
            elif "add" in action:
                files[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                files.pop(action["remove"]["path"], None)
            elif "txn" in action:
                txn = action["txn"]
                app_versions[txn["appId"]] = max(
                    app_versions.get(txn["appId"], -1), int(txn["version"])
                )
            elif "domainMetadata" in action:
                dm = action["domainMetadata"]
                if dm.get("removed"):
                    domain_metadata.pop(dm["domain"], None)
                else:
                    domain_metadata[dm["domain"]] = dm.get(
                        "configuration", ""
                    )

        # Start from the newest checkpoint at-or-before the requested
        # version; replay only the JSON commits after it. Requests
        # older than every checkpoint (deep time travel) replay the
        # retained JSON log from version 0 — which only reconstructs
        # the true state if version 0 is actually retained.
        start = 0
        ckpt = self._best_checkpoint_at_or_before(version)
        if ckpt is not None:
            for action in self._read_checkpoint(ckpt):
                apply(action)
            start = ckpt + 1
        elif not versions or versions[0] > 0:
            raise ValueError(
                f"cannot reconstruct version {version}: the commits "
                "before the first retained JSON version were expired "
                "and no checkpoint at-or-before it exists"
            )
        missing = sorted(set(range(start, version + 1)) - set(versions))
        if missing:
            # a replay that skipped a commit would return a state
            # that never existed — refuse instead
            raise ValueError(
                f"cannot reconstruct version {version}: commit "
                f"{missing[0]} is missing from the log"
            )
        for v in range(start, version + 1):
            for action in self._read_actions(v):
                apply(action)
        if schema is None:
            raise ValueError("corrupt log: no metaData action replayed")
        if min_reader > 3:
            # the protocol's forward-compat contract: a reader MUST
            # refuse tables requiring a newer reader version instead
            # of silently misreading them
            raise NotImplementedError(
                f"table requires minReaderVersion {min_reader}; this "
                "reader supports up to 3 (deletion vectors)"
            )
        unknown_r = reader_features - self._READER_FEATURES_SUPPORTED
        if unknown_r:
            # same contract at FEATURE granularity (Table Features):
            # an unrecognized reader feature means this reader would
            # misinterpret the data — refuse, never misread
            raise NotImplementedError(
                f"table requires reader features {sorted(unknown_r)} "
                "this reader does not support (supported: "
                f"{sorted(self._READER_FEATURES_SUPPORTED)})"
            )
        return Snapshot(
            version, schema, partition_columns, files, app_versions,
            configuration, min_reader, min_writer, domain_metadata,
            reader_features, writer_features,
            table_id=meta.get("id"), created_time=meta.get("createdTime"),
        )

    def _commit_info(self, version: int) -> dict[str, Any]:
        """The ``commitInfo`` of commit ``version`` ({} when absent)."""
        return next(
            (
                a["commitInfo"]
                for a in self._read_actions(version)
                if "commitInfo" in a
            ),
            {},
        )

    def rows_added(self, version: int) -> int:
        """Rows commit ``version`` added, summed from its ``dataChange``
        adds' ``numRecords`` stats: a writer's row count read from the
        log, never from a scan."""
        return sum(
            json.loads(a["add"]["stats"])["numRecords"]
            for a in self._read_actions(version)
            if "add" in a and a["add"].get("dataChange", True)
        )

    def history(self) -> list[dict[str, Any]]:
        """One commitInfo dict per version, newest first."""
        return [
            {"version": v, **self._commit_info(v)}
            for v in reversed(self.versions())
        ]

