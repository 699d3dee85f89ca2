"""Manifest min/max stats + file-level data skipping (lake/skipping.py)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from bergloom_spark.config import CompactionConfig
from bergloom_spark.lake import LakeTable
from bergloom_spark.lake import metadata as md
from bergloom_spark.lake.compaction import SortCompaction
from bergloom_spark.lake.skipping import entry_may_match, prune_entries


def _sorted_table(spark, sf_dir, root):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    t = LakeTable.create(spark, os.path.join(root, "li"), li.schema)
    t.append(li)
    SortCompaction(
        t,
        CompactionConfig(target_file_size=1 * 1024 * 1024),
        sort_cols=["l_orderkey"],
        n_output_files=6,
    ).compact()
    return t, li


def test_append_records_column_stats(spark, sf_dir):
    with tempfile.TemporaryDirectory() as root:
        t, li = _sorted_table(spark, sf_dir, root)
        entries = t.meta.current_snapshot().files(md.DATA)
        assert entries and all(e.column_stats for e in entries)
        lo = min(e.column_stats["l_orderkey"][0] for e in entries)
        hi = max(e.column_stats["l_orderkey"][1] for e in entries)
        row = li.agg(
            F.min("l_orderkey").alias("lo"), F.max("l_orderkey").alias("hi")
        ).collect()[0]
        assert (lo, hi) == (row.lo, row.hi)


def test_pruned_read_matches_plain_filter(spark, sf_dir):
    with tempfile.TemporaryDirectory() as root:
        t, li = _sorted_table(spark, sf_dir, root)
        cut = int(li.agg(F.expr("percentile(l_orderkey, 0.2)")).collect()[0][0])
        kept, total = t.plan_files([("l_orderkey", "<", cut)])
        assert total >= 4
        assert len(kept) < total  # files really skipped
        got = sorted(
            (r.l_orderkey, r.l_linenumber, r.l_partkey)
            for r in t.read(filters=[("l_orderkey", "<", cut)]).collect()
        )
        want = sorted(
            (r.l_orderkey, r.l_linenumber, r.l_partkey)
            for r in t.read().filter(F.col("l_orderkey") < cut).collect()
        )
        assert got == want


def test_pruning_composes_with_equality_deletes(spark, sf_dir):
    with tempfile.TemporaryDirectory() as root:
        t, li = _sorted_table(spark, sf_dir, root)
        t.append_equality_deletes(
            li.filter(F.col("l_suppkey") % 5 == 0)
            .select("l_orderkey")
            .distinct(),
            ["l_orderkey"],
        )
        cut = int(li.agg(F.expr("percentile(l_orderkey, 0.3)")).collect()[0][0])
        got = {
            (r.l_orderkey, r.l_linenumber)
            for r in t.read(filters=[("l_orderkey", "<", cut)]).collect()
        }
        want = {
            (r.l_orderkey, r.l_linenumber)
            for r in t.read().filter(F.col("l_orderkey") < cut).collect()
        }
        assert got == want


def test_temporal_stats_prune(spark, sf_dir):
    with tempfile.TemporaryDirectory() as root:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_orderdate", "o_totalprice"
        )
        t = LakeTable.create(spark, os.path.join(root, "ord"), orders.schema)
        t.append(orders)
        SortCompaction(
            t,
            CompactionConfig(target_file_size=1 * 1024 * 1024),
            sort_cols=["o_orderdate"],
            n_output_files=4,
        ).compact()
        row = orders.agg(
            F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
        ).collect()[0]
        cut_dt = row.lo + (row.hi - row.lo) / 4
        kept, total = t.plan_files([("o_orderdate", "<", cut_dt)])
        assert len(kept) < total
        got = {
            r.o_orderkey
            for r in t.read(filters=[("o_orderdate", "<", cut_dt)]).collect()
        }
        want = {
            r.o_orderkey
            for r in t.read().filter(F.col("o_orderdate") < cut_dt).collect()
        }
        assert got == want


def test_entry_without_stats_never_prunes():
    e = md.ManifestEntry(
        content=md.DATA,
        file_path="/x.parquet",
        record_count=1,
        file_size_bytes=10,
        sequence_number=1,
    )
    assert entry_may_match(e, "k", "=", 42)
    assert prune_entries([e], [("k", "<", 0)]) == [e]


def test_range_semantics():
    e = md.ManifestEntry(
        content=md.DATA,
        file_path="/x.parquet",
        record_count=1,
        file_size_bytes=10,
        sequence_number=1,
        column_stats={"k": [10, 20]},
    )
    assert entry_may_match(e, "k", "=", 10)
    assert entry_may_match(e, "k", "=", 20)
    assert not entry_may_match(e, "k", "=", 9)
    assert not entry_may_match(e, "k", "<", 10)
    assert entry_may_match(e, "k", "<=", 10)
    assert not entry_may_match(e, "k", ">", 20)
    assert entry_may_match(e, "k", ">=", 20)


def test_old_metadata_without_stats_loads():
    meta = md.TableMetadata(
        table_root="/tmp/x",
        schema={"type": "struct", "fields": []},
        snapshots=[
            md.Snapshot(
                snapshot_id=1,
                sequence_number=1,
                timestamp_ms=0,
                operation="append",
                entries=[
                    md.ManifestEntry(
                        content=md.DATA,
                        file_path="/x.parquet",
                        record_count=1,
                        file_size_bytes=10,
                        sequence_number=1,
                    )
                ],
            )
        ],
    )
    # simulate a pre-stats metadata file on disk: asdict() is the
    # legacy inline layout, each snapshot carrying its own entries
    import json
    from dataclasses import asdict

    raw = asdict(meta)
    raw["snapshots"][0]["entries"][0].pop("column_stats")
    loaded = md.TableMetadata.from_json(json.dumps(raw))
    assert loaded.snapshots[0].entries[0].column_stats == {}


def test_zorder_normalized_prunes_both_dimensions(spark, sf_dir):
    """Range-normalized Morton interleave: BOTH z-columns must get file
    locality (raw-bit interleave degenerates to the wider column)."""
    with tempfile.TemporaryDirectory() as root:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
        )
        t = LakeTable.create(spark, os.path.join(root, "li"), li.schema)
        t.append(li)
        SortCompaction(
            t,
            CompactionConfig(target_file_size=64 * 1024),
            sort_cols=["l_partkey", "l_suppkey"],
            zorder=True,
            n_output_files=8,
        ).compact()
        row = li.agg(
            F.expr("percentile(l_partkey, 0.1)").alias("pk"),
            F.expr("percentile(l_suppkey, 0.1)").alias("sk"),
        ).collect()[0]
        kp, total = t.plan_files([("l_partkey", "<", int(row.pk))])
        ks, _ = t.plan_files([("l_suppkey", "<", int(row.sk))])
        assert len(kp) < total
        assert len(ks) < total


def test_prune_is_conservative_property():
    """entry_may_match may only return False when NO value in [lo, hi]
    satisfies the predicate — checked over a generated grid of ranges,
    ops, and probe literals (hypothesis-style exhaustive small-domain
    sweep: 5 ops × ranges × values, including boundaries)."""
    from itertools import product

    from bergloom_spark.lake.skipping import OPS

    def op_eval(op, x, v):
        return {
            "=": x == v,
            "<": x < v,
            "<=": x <= v,
            ">": x > v,
            ">=": x >= v,
        }[op]

    domain = range(-3, 8)
    for lo, hi in product(domain, domain):
        if lo > hi:
            continue
        e = md.ManifestEntry(
            content=md.DATA,
            file_path="/x",
            record_count=1,
            file_size_bytes=1,
            sequence_number=1,
            column_stats={"k": [lo, hi]},
        )
        for op, v in product(OPS, domain):
            keep = entry_may_match(e, "k", op, v)
            any_match = any(
                op_eval(op, x, v) for x in range(lo, hi + 1)
            )
            # conservative: never drop a file that could match
            assert keep or not any_match, (lo, hi, op, v)
            # and tight on integer-dense ranges: keep implies possible
            assert any_match or not keep, (lo, hi, op, v)
