"""RewriteFiles commit manager with optimistic retry.

Reference: ``RewriteDataFilesCommitManager``
(``core/src/compaction/mod.rs:465-614``): reload the table, guard on
schema id, build a RewriteFiles transaction (remove old files, add new
ones pinned to the *starting* snapshot's sequence number so
younger-than-compaction deletes still apply), commit with exponential
backoff on retryable conflicts.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass, replace

from bergloom_spark.config import CompactionConfig
from bergloom_spark.lake import metadata as md


class CommitFailed(Exception):
    """Non-retryable commit failure (schema changed, files vanished)."""


@dataclass
class RetryConfig:
    """compaction/mod.rs:448-462 defaults: 3 retries, 1s → 10s exp."""

    max_retries: int = 3
    initial_delay_s: float = 1.0
    max_delay_s: float = 10.0

    @staticmethod
    def from_compaction(config: CompactionConfig) -> "RetryConfig":
        return RetryConfig(
            max_retries=config.commit_retries,
            initial_delay_s=config.retry_initial_delay_s,
            max_delay_s=config.retry_max_delay_s,
        )


class RewriteFilesCommitManager:
    def __init__(
        self,
        table_root: str,
        starting_schema_id: int,
        starting_sequence_number: int,
        use_starting_sequence_number: bool = True,
        retry: RetryConfig | None = None,
        sleep=time.sleep,
    ):
        self.table_root = table_root
        self.starting_schema_id = starting_schema_id
        self.starting_sequence_number = starting_sequence_number
        self.use_starting_sequence_number = use_starting_sequence_number
        self.retry = retry or RetryConfig()
        self._sleep = sleep

    def rewrite_files(
        self,
        add_entries: list[md.ManifestEntry],
        remove_paths: set[str],
        operation: str = "rewrite",
        overwritten_partitions: set[tuple] | None = None,
        set_properties: dict[str, str] | None = None,
    ) -> md.TableMetadata:
        """Commit: current live files − removed + added, as a new
        snapshot. ``operation`` labels the snapshot: "rewrite" (the
        default) means no logical row changed and incremental readers
        skip it; "overwrite" means the removed/added rows ARE the
        change and the changelog reader emits them.

        ``overwritten_partitions`` (sorted partition-item tuples)
        enables Iceberg-style overwrite conflict validation: if at
        commit time a touched partition holds a live data file the
        plan didn't account for (a concurrent append/merge landed
        since the overwrite was planned), the commit FAILS instead of
        silently keeping rows the caller believes replaced — the
        caller must re-plan against the new state."""
        attempt = 0
        while True:
            try:
                return self._try_commit(
                    add_entries,
                    remove_paths,
                    operation,
                    overwritten_partitions,
                    set_properties,
                )
            except md.CommitConflict:
                if attempt >= self.retry.max_retries:
                    raise
                delay = min(
                    self.retry.initial_delay_s * (2**attempt),
                    self.retry.max_delay_s,
                ) * (0.5 + random.random() / 2)
                self._sleep(delay)
                attempt += 1

    def _try_commit(
        self,
        add_entries: list[md.ManifestEntry],
        remove_paths: set[str],
        operation: str = "rewrite",
        overwritten_partitions: set[tuple] | None = None,
        set_properties: dict[str, str] | None = None,
    ) -> md.TableMetadata:
        base = md.read_current(self.table_root)
        # Schema-id guard: abort if the table schema changed mid-compaction
        # (compaction/mod.rs:532-541).
        if base.schema_id != self.starting_schema_id:
            raise CommitFailed(
                f"schema changed during compaction: "
                f"{self.starting_schema_id} -> {base.schema_id}"
            )
        current = base.current_snapshot()
        live = list(current.entries) if current else []
        live_paths = {e.file_path for e in live}
        missing = remove_paths - live_paths
        if missing:
            raise CommitFailed(
                f"{len(missing)} input files no longer live (concurrent rewrite?)"
            )
        if overwritten_partitions is not None:
            conflicting = [
                e
                for e in live
                if e.content == md.DATA
                and tuple(sorted(e.partition.items()))
                in overwritten_partitions
                and e.file_path not in remove_paths
            ]
            if conflicting:
                raise CommitFailed(
                    f"{len(conflicting)} data files were committed "
                    "concurrently into partitions this overwrite "
                    "replaces; re-plan the overwrite against the "
                    "current snapshot"
                )
        # Pin output data files to the starting sequence number so delete
        # files committed *after* compaction started still apply to the
        # rewritten rows (compaction/mod.rs:546-566).
        seq = (
            self.starting_sequence_number
            if self.use_starting_sequence_number
            else base.last_sequence_number + 1
        )
        adds = [
            replace(e, sequence_number=seq)
            for e in add_entries
        ]
        snap = md.Snapshot(
            snapshot_id=base.last_snapshot_id + 1,
            sequence_number=base.last_sequence_number + 1,
            timestamp_ms=int(time.time() * 1000),
            operation=operation,
            entries=[e for e in live if e.file_path not in remove_paths] + adds,
            parent_snapshot_id=base.current_snapshot_id,
        )
        meta = md.TableMetadata(
            table_root=base.table_root,
            schema=base.schema,
            schema_id=base.schema_id,
            partition_spec=list(base.partition_spec),
            # set_properties rides the SAME CAS as the file rewrite
            # (a sorted compaction's sort-order claim must land with
            # the sorted files or not at all, r14)
            properties={**base.properties, **(set_properties or {})},
            refs=dict(base.refs),
            current_snapshot_id=snap.snapshot_id,
            last_sequence_number=snap.sequence_number,
            last_snapshot_id=snap.snapshot_id,
            version=base.version + 1,
            snapshots=list(base.snapshots) + [snap],
        )
        md.write_version(meta)
        return meta
