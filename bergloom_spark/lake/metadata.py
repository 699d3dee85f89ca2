"""Table metadata: snapshots, manifest entries, atomic version chain.

Semantics mirror Iceberg v2 as exercised by the reference:

- every commit produces a new *snapshot* with a monotonically
  increasing *sequence number* (``compaction/mod.rs:546-566`` pins
  output files to the starting sequence number);
- the manifest enumerates data files, positional-delete files and
  equality-delete files (``compaction/mod.rs:363-392``);
- commits are atomic and optimistic: writers race to create the next
  ``v<N>.metadata.json`` via ``os.link`` (fails on EEXIST — a
  compare-and-swap), losers reload and retry
  (``compaction/mod.rs:465-614``).

On-disk layout of ``v<N>.metadata.json`` (compact JSON): the table
fields, a table-level ``"entries"`` pool holding each distinct
:class:`ManifestEntry` of the version once, and ``"snapshots"`` whose
``"entry_indices"`` list positions in that pool — the analog of
Iceberg snapshots sharing manifests, so a commit's metadata grows with
the files it changes rather than with snapshots × live files. Loading
rebuilds snapshots that share entry objects (as ``_carry_forward``
does in memory). A snapshot that carries its own ``"entries"`` list of
entry objects instead is the legacy inline layout; it still loads, so
versions written before the pool existed stay readable.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field, fields

DATA = "data"
POS_DELETE = "pos_delete"
EQ_DELETE = "eq_delete"

# Standard positional-delete layout (datafusion_processor.rs:455-473).
POS_DELETE_SCHEMA = "file_path string, pos long"


@dataclass
class ManifestEntry:
    """One file tracked by a snapshot (data or delete)."""

    content: str  # DATA | POS_DELETE | EQ_DELETE
    file_path: str
    record_count: int
    file_size_bytes: int
    sequence_number: int
    equality_ids: list[str] = field(default_factory=list)
    partition: dict[str, str] = field(default_factory=dict)
    # Per-column [min, max] from the parquet footer (skipping.py) —
    # JSON-native values only; absent for pre-stats metadata versions
    # (defaults keep old v<N>.metadata.json loadable).
    column_stats: dict[str, list] = field(default_factory=dict)
    # Per-column hex Bloom bitsets for equality pruning (skipping.py),
    # written only for columns named by the table property
    # "write.bloom-filter-columns"; defaulted for older metadata.
    column_blooms: dict[str, str] = field(default_factory=dict)
    # Per-column value counts INCLUDING nulls and per-column null
    # counts (Iceberg manifest fields 109/110) — all-null pruning +
    # interop; defaulted for pre-r13 metadata versions.
    column_value_counts: dict[str, int] = field(default_factory=dict)
    column_null_counts: dict[str, int] = field(default_factory=dict)
    # bucket[N]-transform partition evidence from IMPORTED Iceberg
    # specs: {source column: [N, bucket_value]} — equality pruning
    # via Appendix-B murmur3 (skipping.iceberg_bucket); never written
    # by the native lake (identity partitioning only).
    column_buckets: dict[str, list] = field(default_factory=dict)
    # Iceberg v3 deletion vector (POS_DELETE entries whose file is a
    # Puffin blob, spec fields 143-145): the data file the DV
    # applies to plus the blob's byte range inside file_path. None
    # for parquet position-delete files and everything the native
    # lake writes (the exporter stays v2).
    dv_referenced_file: str | None = None
    dv_offset: int | None = None
    dv_size: int | None = None


@dataclass
class Snapshot:
    snapshot_id: int
    sequence_number: int
    timestamp_ms: int
    operation: str  # "append" | "delete" | "rewrite" ...
    entries: list[ManifestEntry] = field(default_factory=list)
    # Snapshot this one was built on (None for the first commit).
    # Written by every commit; the write-audit-publish path uses it to
    # refuse publishing a staged snapshot whose parent is no longer
    # current.
    parent_snapshot_id: int | None = None

    def files(self, content: str | None = None) -> list[ManifestEntry]:
        if content is None:
            return list(self.entries)
        return [e for e in self.entries if e.content == content]


@dataclass
class TableMetadata:
    table_root: str
    schema: dict  # Spark StructType jsonValue()
    schema_id: int = 0
    partition_spec: list[str] = field(default_factory=list)
    properties: dict[str, str] = field(default_factory=dict)
    current_snapshot_id: int | None = None
    last_sequence_number: int = 0
    last_snapshot_id: int = 0
    version: int = 0
    snapshots: list[Snapshot] = field(default_factory=list)
    # Named snapshot refs (Iceberg-style): {name: {"snapshot_id": int,
    # "type": "tag" | "branch"}}. Tags are immutable release markers
    # ("the snapshot model X trained on"); branches are movable
    # pointers. Defaulted so pre-refs metadata versions load.
    refs: dict = field(default_factory=dict)

    def current_snapshot(self) -> Snapshot | None:
        if self.current_snapshot_id is None:
            return None
        return self.snapshot_by_id(self.current_snapshot_id)

    def snapshot_by_id(self, snapshot_id: int) -> Snapshot:
        for snap in self.snapshots:
            if snap.snapshot_id == snapshot_id:
                return snap
        raise KeyError(f"snapshot {snapshot_id} not found")

    def to_json(self) -> str:
        pool: list[dict] = []
        by_value: dict[str, int] = {}  # entry JSON -> pool index
        # Snapshots share entry objects, so most lookups stop here.
        by_object: dict[int, int] = {}  # id(entry) -> pool index
        snapshots = []
        for snap in self.snapshots:
            indices = []
            for e in snap.entries:
                i = by_object.get(id(e))
                if i is None:
                    d = asdict(e)
                    key = json.dumps(d, sort_keys=True)
                    i = by_object[id(e)] = by_value.setdefault(key, len(pool))
                    if i == len(pool):
                        pool.append(d)
                indices.append(i)
            s = {f.name: getattr(snap, f.name) for f in fields(snap)
                 if f.name != "entries"}
            s["entry_indices"] = indices
            snapshots.append(s)
        doc = {f.name: getattr(self, f.name) for f in fields(self)}
        doc.update(snapshots=snapshots, entries=pool)
        return json.dumps(doc, separators=(",", ":"))

    @staticmethod
    def from_json(text: str) -> "TableMetadata":
        raw = json.loads(text)
        pool = [ManifestEntry(**e) for e in raw.pop("entries", [])]
        snapshots = []
        for s in raw.pop("snapshots"):
            if "entries" in s:  # legacy inline layout
                entries = [ManifestEntry(**e) for e in s.pop("entries")]
            else:
                entries = [pool[i] for i in s.pop("entry_indices")]
            snapshots.append(Snapshot(entries=entries, **s))
        return TableMetadata(snapshots=snapshots, **raw)


def metadata_dir(table_root: str) -> str:
    return os.path.join(table_root, "metadata")


def version_path(table_root: str, version: int) -> str:
    return os.path.join(metadata_dir(table_root), f"v{version}.metadata.json")


def read_current(table_root: str, io=None) -> TableMetadata:
    """Load the newest metadata version under ``table_root``.

    All storage access goes through a :class:`~bergloom_spark.lake.
    fileio.FileIO` resolved from the root's scheme (verdict r11 #3 —
    reference parity with iceberg-rs's pluggable FileIO,
    ``core/Cargo.toml:16-19``): bare paths stay on ``os``-level I/O,
    ``scheme://`` roots route through the JVM Hadoop FileSystem."""
    from bergloom_spark.lake.fileio import io_for

    io = io or io_for(table_root)
    mdir = metadata_dir(table_root)
    versions = [
        int(f[1:].split(".")[0])
        for f in io.list_names(mdir)
        if f.startswith("v") and f.endswith(".metadata.json")
    ]
    if not versions:
        raise FileNotFoundError(f"no metadata versions in {mdir}")
    return TableMetadata.from_json(
        io.read_text(version_path(table_root, max(versions)))
    )


class CommitConflict(Exception):
    """Another writer committed the next version first (retryable)."""


def write_version(meta: TableMetadata, io=None) -> None:
    """Atomically publish ``meta`` as the next metadata version.

    Write-then-publish through the FileIO seam: the full JSON is
    written to a scratch path first, then ``publish_if_absent``
    atomically claims the target — it raises FileExistsError if the
    version was taken (losers raise :class:`CommitConflict` and retry
    at a higher level, ``compaction/mod.rs:595-611``). That single
    CAS primitive is the only thing commit safety needs from
    storage; everything else is plain reads/writes/lists.
    """
    from bergloom_spark.lake.fileio import io_for

    io = io or io_for(meta.table_root)
    mdir = metadata_dir(meta.table_root)
    io.mkdirs(mdir)
    tmp = io.new_tmp_path(mdir)
    io.write_text(tmp, meta.to_json())
    target = version_path(meta.table_root, meta.version)
    try:
        io.publish_if_absent(tmp, target)
    except FileExistsError as exc:
        raise CommitConflict(f"version {meta.version} already committed") from exc
    finally:
        if io.exists(tmp):
            io.delete(tmp)
