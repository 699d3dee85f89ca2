"""On-disk layout of ``v<N>.metadata.json`` (lake/metadata.py): each
distinct manifest entry is written once per version into a table-level
pool, snapshots list indices into it, and the legacy inline layout
still loads."""

from __future__ import annotations

import glob
import json
import os
from dataclasses import asdict

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from bergloom_spark.config import CompactionConfig
from bergloom_spark.lake import Compaction, LakeTable
from bergloom_spark.lake import metadata as md
from bergloom_spark.lake.compaction import expire_snapshots

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("p", T.StringType(), False),
        T.StructField("v", T.StringType(), False),
    ]
)


def _rows(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("p"),
        F.concat(F.lit(tag), F.col("id")).alias("v"),
    )


def _roundtrips(meta: md.TableMetadata) -> bool:
    return asdict(md.TableMetadata.from_json(meta.to_json())) == asdict(meta)


@pytest.fixture(scope="module")
def history(spark, tmp_path_factory):
    """A small partitioned table through ~15 commits of every kind
    that writes a metadata version. Returns (table, versions), where
    versions maps each version number to its on-disk text."""
    root = str(tmp_path_factory.mktemp("layout") / "t")
    t = LakeTable.create(spark, root, SCHEMA, partition_spec=["p"])

    def step(fn, *args, **kwargs):
        out = fn(*args, **kwargs)
        # the in-memory metadata survives the layout and is what landed
        assert _roundtrips(t.meta)
        assert asdict(md.read_current(root)) == asdict(t.meta)
        return out

    for i in range(4):
        step(t.append, _rows(spark, 100 * i, 100 * i + 100, f"a{i}"))
    step(t.delete_where, F.col("id") < 20)
    step(t.delete_matching, spark.range(20, 30), ["id"], as_vectors=True)
    step(
        t.merge_into,
        _rows(spark, 50, 450, "m"),
        ["id"],
        when_matched_update={"v": "s.v"},
    )
    step(
        Compaction(
            t, CompactionConfig(enable_validate_compaction=True)
        ).compact
    )
    step(t.append, _rows(spark, 500, 520, "b"))
    step(t.create_tag, "release")
    tagged = t.meta.current_snapshot_id
    step(t.stage_append, _rows(spark, 600, 610, "staged"))
    step(t.append, _rows(spark, 700, 720, "c"))
    step(expire_snapshots, t, keep_last=3)
    step(t.rollback_to, tagged)
    step(t.append, _rows(spark, 800, 805, "d"))
    mdir = md.metadata_dir(root)
    versions = {}
    for path in glob.glob(os.path.join(mdir, "v*.metadata.json")):
        with open(path) as fh:
            versions[int(os.path.basename(path)[1:].split(".")[0])] = fh.read()
    assert len(versions) >= 15
    return t, versions


def test_every_version_roundtrips(history):
    """(a) every committed version loads to metadata that serializes
    back byte for byte and survives the layout unchanged."""
    _, versions = history
    for v, text in sorted(versions.items()):
        meta = md.TableMetadata.from_json(text)
        assert meta.version == v
        assert meta.to_json() == text, v
        assert _roundtrips(meta), v


def test_each_entry_written_once_per_version(history):
    """(b) a file tracked by several snapshots is serialized once per
    version: the pool dedupes, snapshots carry indices."""
    _, versions = history
    shared = 0
    for v, text in versions.items():
        meta = md.TableMetadata.from_json(text)
        paths = {e.file_path for s in meta.snapshots for e in s.entries}
        for p in paths:
            assert text.count('"file_path":' + json.dumps(p)) == 1, (v, p)
        refs = sum(len(s.entries) for s in meta.snapshots)
        shared += refs > len(paths)
    assert shared  # the history really has files shared across snapshots


def test_snapshots_share_loaded_entries(history):
    t, _ = history
    meta = md.read_current(t.meta.table_root)
    by_path = {}
    for s in meta.snapshots:
        for e in s.entries:
            assert by_path.setdefault(e.file_path, e) is e


def test_legacy_inline_layout_loads(history):
    """(c) a version in the legacy inline layout (each snapshot carrying
    its own entry objects, indent=1 — what the earlier writer produced)
    loads to the same metadata, and the next commit on top of it writes
    the pool layout."""
    t, _ = history
    meta = md.read_current(t.meta.table_root)
    legacy = json.dumps(asdict(meta), indent=1)
    assert '"entry_indices"' not in legacy
    loaded = md.TableMetadata.from_json(legacy)
    assert asdict(loaded) == asdict(meta)
    assert loaded.to_json() == meta.to_json()

    # a table whose newest version is legacy keeps working
    path = md.version_path(meta.table_root, meta.version)
    with open(path, "w") as fh:
        fh.write(legacy)
    expected = t.read().count() + 7
    t.refresh()
    t.append(t.spark.range(900, 907).select(
        F.col("id"), F.lit("1").alias("p"), F.lit("e").alias("v")
    ))
    assert t.read().count() == expected
    with open(md.version_path(meta.table_root, t.meta.version)) as fh:
        text = fh.read()
    assert asdict(md.TableMetadata.from_json(text)) == asdict(t.meta)
    live = {e.file_path for s in t.meta.snapshots for e in s.entries}
    for p in live:
        assert text.count('"file_path":' + json.dumps(p)) == 1, p
