"""The one metadata commit path: a CAS-retry loop over a ``build``.

Every lake commit (append and DML, write-audit-publish, refs,
rollback, schema and partition evolution, snapshot expiry, statistics
properties, rewrites) goes through :func:`commit`. The caller hands it
a first base (a :class:`~bergloom_spark.lake.metadata.TableMetadata`)
and ``build(base)``, which derives the next version from that base —
re-checking the operation's own guards against it — usually with
``base.next_version(...)`` or ``base.with_snapshot(...)``. The loop
publishes the result with ``md.write_version``; when another writer
took that version first (:class:`~bergloom_spark.lake.metadata.
CommitConflict`) it sleeps, re-reads the newest version with
``md.read_current`` and calls ``build`` again on it. Written data files
are never rewritten on retry: only the metadata is rebuilt.

``build`` signals a REAL conflict — one a retry cannot fix — by raising
:class:`CommitFailed` (schema changed, input files gone, staged parent
moved), ``ValueError`` (a ref name now taken) or ``KeyError`` (a
snapshot or ref now gone). Those propagate at once and are never
retried. After ``max_retries`` lost races the last ``CommitConflict``
propagates.

Two retry policies, one backoff formula (:meth:`RetryConfig.delay`,
the reference's ``compaction/mod.rs:595-611``): compaction-type
rewrites use :meth:`RetryConfig.from_compaction` (``CompactionConfig``,
1 s → 10 s by default); every other commit uses :data:`TABLE_RETRY`,
short enough for interactive DML.

Reference for the rewrite path: ``RewriteDataFilesCommitManager``
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

    def delay(self, attempt: int) -> float:
        """Jittered capped exponential backoff before retry ``attempt``
        (0-based): within [0.5, 1] × min(initial · 2^attempt, cap)."""
        return min(
            self.initial_delay_s * (2**attempt), self.max_delay_s
        ) * (0.5 + random.random() / 2)


# Every commit that is not a compaction-type rewrite: worst-case total
# sleep 0.025 + 0.05 + 0.1 + 0.2 + 0.25 = 0.625 s.
TABLE_RETRY = RetryConfig(max_retries=5, initial_delay_s=0.025, max_delay_s=0.25)


def commit(base: md.TableMetadata, build, retry: RetryConfig, sleep=time.sleep):
    """Publish ``build(base)``; on a lost CAS race re-read the newest
    version and rebuild on it, up to ``retry.max_retries`` times.
    Returns the committed metadata."""
    attempt = 0
    while True:
        meta = build(base)
        try:
            md.write_version(meta)
            return meta
        except md.CommitConflict:
            if attempt >= retry.max_retries:
                raise
            sleep(retry.delay(attempt))
            attempt += 1
            base = md.read_current(base.table_root)


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

        def build(base: md.TableMetadata) -> md.TableMetadata:
            return self._try_commit(
                base,
                add_entries,
                remove_paths,
                operation,
                overwritten_partitions,
                set_properties,
            )

        return commit(
            md.read_current(self.table_root), build, self.retry, self._sleep
        )

    def _try_commit(
        self,
        base: md.TableMetadata,
        add_entries: list[md.ManifestEntry],
        remove_paths: set[str],
        operation: str,
        overwritten_partitions: set[tuple] | None,
        set_properties: dict[str, str] | None,
    ) -> md.TableMetadata:
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
        meta = base.with_snapshot(
            operation,
            [replace(e, sequence_number=seq) for e in add_entries],
            removed=remove_paths,
        )
        # set_properties rides the SAME CAS as the file rewrite (a sorted
        # compaction's sort-order claim must land with the sorted files
        # or not at all, r14)
        meta.properties.update(set_properties or {})
        return meta
