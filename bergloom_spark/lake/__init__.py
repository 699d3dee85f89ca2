"""A lightweight Iceberg-like table format on plain Parquet.

The reference operates on real Iceberg tables through iceberg-rs; this
environment has no Iceberg Spark runtime jar, so the same *semantics*
— snapshots, per-file data sequence numbers, positional and equality
delete files, atomic commits with optimistic retry — are carried by a
small JSON metadata layer while Spark does all data movement.

Layout of a table directory::

    <root>/metadata/v<N>.metadata.json   # table metadata versions (CAS chain)
    <root>/data/...parquet               # data files
    <root>/deletes/...parquet            # position/equality delete files
    <root>/deletes/dv-*.puffin           # deletion vectors

Each ``v<N>.metadata.json`` is compact JSON: the table fields, an
``"entries"`` pool with every distinct manifest entry of that version
written once, and ``"snapshots"`` that name their files through
``"entry_indices"`` into the pool (snapshots share entries, as Iceberg
snapshots share manifests). A snapshot that inlines its own
``"entries"`` objects is the legacy layout and still loads.

Maps to the reference's catalog + manifest machinery
(``core/src/compaction/mod.rs:363-444``).
"""

from bergloom_spark.lake.table import LakeTable
from bergloom_spark.lake.compaction import Compaction, RewriteFilesStat
from bergloom_spark.lake.catalog import (
    Catalog,
    CatalogCommitConflict,
    FilesystemCatalog,
    MemoryCatalog,
    RestCatalog,
    NoSuchTableError,
    SqlCatalog,
    TableAlreadyExistsError,
    catalog_for,
    compact_catalog_table,
)

__all__ = [
    "LakeTable",
    "Compaction",
    "RewriteFilesStat",
    "Catalog",
    "CatalogCommitConflict",
    "FilesystemCatalog",
    "MemoryCatalog",
    "RestCatalog",
    "NoSuchTableError",
    "SqlCatalog",
    "TableAlreadyExistsError",
    "catalog_for",
    "compact_catalog_table",
]
