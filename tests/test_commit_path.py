"""The one metadata commit path (``lake/commit.py``).

- the CAS-retry loop itself, with an injected sleep and a faked
  version store: backoff bounds, give-up, and no retry of real
  conflicts;
- stale handles: every table operation run through a handle one
  version behind commits on the fresh base instead of failing, and
  leaves the other writer's snapshot in place;
- real conflicts still refuse;
- an AST guard that keeps publishing and deriving metadata versions in
  the one place they live.
"""

from __future__ import annotations

import ast
import glob
import os
from pathlib import Path

import pytest
from pyspark.sql import types as T

from bergloom_spark.lake import LakeTable
from bergloom_spark.lake import metadata as md
from bergloom_spark.lake.commit import TABLE_RETRY, CommitFailed, RetryConfig, commit

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


# ---------------------------------------------------------------------------
# the loop
# ---------------------------------------------------------------------------
def _meta(version: int) -> md.TableMetadata:
    return md.TableMetadata(table_root="/unused", schema={}, version=version)


@pytest.fixture
def store(monkeypatch):
    """A fake version store: ``lose`` CAS races are lost, then writes
    win; reads return the version after the last lost one."""
    state = {"lose": 0, "written": [], "reads": 0}

    def write_version(meta):
        if state["lose"]:
            state["lose"] -= 1
            raise md.CommitConflict(f"version {meta.version} taken")
        state["written"].append(meta)

    def read_current(root):
        state["reads"] += 1
        return _meta(state["reads"] * 10)

    monkeypatch.setattr(md, "write_version", write_version)
    monkeypatch.setattr(md, "read_current", read_current)
    return state


def test_loop_rebuilds_on_each_fresh_base(store):
    store["lose"] = 2
    bases = []

    def build(base):
        bases.append(base.version)
        return base.next_version()

    sleeps: list[float] = []
    out = commit(_meta(0), build, TABLE_RETRY, sleep=sleeps.append)
    assert bases == [0, 10, 20]
    assert out.version == 21 and store["written"] == [out]
    assert len(sleeps) == 2


def test_loop_backoff_bounds_and_gives_up(store):
    retry = RetryConfig(max_retries=6, initial_delay_s=0.1, max_delay_s=0.5)
    store["lose"] = 100
    sleeps: list[float] = []
    with pytest.raises(md.CommitConflict):
        commit(_meta(0), lambda b: b.next_version(), retry, sleep=sleeps.append)
    assert len(sleeps) == retry.max_retries
    assert store["written"] == [] and store["reads"] == retry.max_retries
    for k, delay in enumerate(sleeps):
        cap = min(0.1 * 2**k, 0.5)
        assert 0.5 * cap <= delay <= cap
    for k in range(8):
        cap = min(0.1 * 2**k, 0.5)
        assert all(0.5 * cap <= retry.delay(k) <= cap for _ in range(200))
    # worst-case total sleep of the policy every non-rewrite commit uses
    assert sum(
        min(TABLE_RETRY.initial_delay_s * 2**k, TABLE_RETRY.max_delay_s)
        for k in range(TABLE_RETRY.max_retries)
    ) == pytest.approx(0.625)


@pytest.mark.parametrize(
    "exc", [CommitFailed("moved"), ValueError("taken"), KeyError("gone")]
)
def test_loop_never_retries_a_real_conflict(store, exc):
    store["lose"] = 1
    calls = []

    def build(base):
        calls.append(base.version)
        if base.version:  # the fresh base after one lost race
            raise exc
        return base.next_version()

    sleeps: list[float] = []
    with pytest.raises(type(exc)):
        commit(_meta(0), build, TABLE_RETRY, sleep=sleeps.append)
    assert calls == [0, 10] and len(sleeps) == 1 and store["written"] == []


# ---------------------------------------------------------------------------
# stale handles
# ---------------------------------------------------------------------------
def _rows(spark, *ids):
    return spark.createDataFrame([(i, f"r{i}") for i in ids], SCHEMA)


def _stale_pair(spark, tmp_path):
    """(A, B, A's snapshot id): B was opened before A's last commit."""
    root = str(tmp_path / "t")
    a = LakeTable.create(spark, root, SCHEMA)
    a.append(_rows(spark, 1, 2))
    a.create_branch("br")
    b = LakeTable.load(spark, root)
    a.append(_rows(spark, 3))
    assert b.meta.version == a.meta.version - 1
    return a, b, a.meta.current_snapshot_id


def _first(t):
    return t.meta.snapshots[0].snapshot_id


def _stage_then_publish(spark, a, b):
    staged = b.stage_append(_rows(spark, 4))
    a.refresh().create_tag("between")  # B is one version behind again
    b.publish(staged.snapshot_id)
    assert sorted(r.id for r in b.read().collect()) == [1, 2, 3, 4]


def _expire(spark, a, b):
    from bergloom_spark.lake.compaction import expire_snapshots

    a.drop_ref("br")  # the branch would keep the first snapshot alive
    assert expire_snapshots(b, keep_last=1) == 1


def _partition_stats(spark, a, b):
    from bergloom_spark.lake.statistics import compute_partition_statistics

    compute_partition_statistics(b)
    assert b.partition_stats_df() is not None


STALE_OPS = {
    "create_tag": lambda s, a, b: b.create_tag("rel"),
    "set_branch": lambda s, a, b: b.set_branch("br", _first(b)),
    "drop_ref": lambda s, a, b: b.drop_ref("br"),
    "rollback_to": lambda s, a, b: b.rollback_to(_first(b)),
    "add_columns": lambda s, a, b: b.add_columns(
        [T.StructField("extra", T.StringType(), True)]
    ),
    "rename_column": lambda s, a, b: b.rename_column("v", "w"),
    "drop_columns": lambda s, a, b: b.drop_columns(["v"]),
    "set_partition_spec": lambda s, a, b: b.set_partition_spec(["v"]),
    "stage_append+publish": _stage_then_publish,
    "expire_snapshots": _expire,
    "compute_partition_statistics": _partition_stats,
}


@pytest.mark.parametrize("op", sorted(STALE_OPS))
def test_stale_handle_commits_on_fresh_base(spark, tmp_path, op):
    a, b, a_snap = _stale_pair(spark, tmp_path)
    STALE_OPS[op](spark, a, b)
    fresh = md.read_current(a.meta.table_root)
    assert b.meta.version == fresh.version
    assert a_snap in {s.snapshot_id for s in fresh.snapshots}
    assert sorted(r.id for r in b.read(snapshot_id=a_snap).collect()) == [1, 2, 3]
    if op == "create_tag":  # "current" resolves on the fresh base
        assert fresh.refs["rel"]["snapshot_id"] == a_snap
    if op == "rollback_to":
        assert fresh.current_snapshot_id == _first(b)


def test_stale_stage_append_leaves_no_unreferenced_file(spark, tmp_path):
    a, b, _ = _stale_pair(spark, tmp_path)
    staged = b.stage_append(_rows(spark, 4, 5))
    fresh = md.read_current(a.meta.table_root)
    referenced = {
        os.path.abspath(e.file_path) for s in fresh.snapshots for e in s.entries
    }
    on_disk = {
        os.path.abspath(p)
        for p in glob.glob(
            os.path.join(a.meta.table_root, "data", "**", "*.parquet"),
            recursive=True,
        )
    }
    assert on_disk and on_disk <= referenced
    assert staged.parent_snapshot_id == a.meta.current_snapshot_id
    assert fresh.current_snapshot_id == a.meta.current_snapshot_id


def test_schema_change_race_still_refuses(spark, tmp_path):
    root = str(tmp_path / "t")
    a = LakeTable.create(spark, root, SCHEMA)
    a.append(_rows(spark, 1))
    b = LakeTable.load(spark, root)
    a.add_columns([T.StructField("x", T.StringType(), True)])
    with pytest.raises(CommitFailed, match="schema changed"):
        b.add_columns([T.StructField("y", T.StringType(), True)])
    # the failed handle holds the newest base the loop read
    assert b.meta.version == md.read_current(root).version
    assert [f.name for f in b.schema.fields] == ["id", "v", "x"]


def test_concurrent_tag_name_still_refuses(spark, tmp_path):
    a, b, a_snap = _stale_pair(spark, tmp_path)
    a.create_tag("rel")
    with pytest.raises(ValueError, match="already exists"):
        b.create_tag("rel", _first(b))
    assert md.read_current(a.meta.table_root).refs["rel"]["snapshot_id"] == a_snap


def test_compaction_keeps_the_metadata_it_committed(spark, tmp_path, monkeypatch):
    from bergloom_spark.lake.compaction import Compaction, rewrite_position_deletes

    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA)
    t.append(_rows(spark, 1, 2))
    t.append(_rows(spark, 3))
    t.delete_where("id = 2")
    reads = []
    real_read = md.read_current
    monkeypatch.setattr(
        md, "read_current", lambda r, io=None: reads.append(r) or real_read(r, io)
    )
    rewrite_position_deletes(t)
    result = Compaction(t).compact()
    # one read to plan and one to commit, per operation
    assert len(reads) == 4
    assert t.meta.version == real_read(root).version
    assert result.snapshot_id == t.meta.current_snapshot_id
    assert sorted(r.id for r in t.read().collect()) == [1, 3]


# ---------------------------------------------------------------------------
# structural guard
# ---------------------------------------------------------------------------
PKG = Path(__file__).resolve().parents[1] / "bergloom_spark"


def _calls(name: str) -> list[tuple[str, str, ast.Call]]:
    """(file, enclosing def/class path, node) for each call of ``name``
    (bare or as an attribute) anywhere in the package."""
    found = []

    def visit(node, scope, rel):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                inner = scope + [child.name]
            elif isinstance(child, ast.Call):
                f = child.func
                called = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if called == name:
                    found.append((rel, ".".join(scope), child))
            visit(child, inner, rel)

    for path in sorted(PKG.rglob("*.py")):
        visit(ast.parse(path.read_text()), [], path.relative_to(PKG).as_posix())
    return found


NEW_TABLE = {("lake/table.py", "LakeTable.create"), ("lake/table.py", "LakeTable.clone_to")}


def test_write_version_has_exactly_three_callers():
    callers = [(f, s) for f, s, _ in _calls("write_version")]
    assert sorted(callers) == sorted(NEW_TABLE | {("lake/commit.py", "commit")})


def test_table_metadata_built_only_where_versions_are_derived():
    outside = [
        (f, s)
        for f, s, _ in _calls("TableMetadata")
        if f not in ("lake/metadata.py", "lake/iceberg_import.py")
        and (f, s) not in NEW_TABLE
    ]
    assert outside == []
    copies = [
        (f, s)
        for f, s, node in _calls("replace")
        if f != "lake/metadata.py" and any(k.arg == "version" for k in node.keywords)
    ]
    assert copies == []
