"""Table statistics: Puffin theta blobs + NDV roundtrip (r14).

The Iceberg ``statistics`` metadata field points at a Puffin file of
``apache-datasketches-theta-v1`` blobs whose required ``ndv``
property feeds engine CBOs; `lake/statistics.py` computes them
Spark-natively (distinct + TakeOrdered(k), JVM-side hashes) and the
export/import pair carries the pointer."""

from __future__ import annotations

import json

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bergloom_spark.lake import LakeTable
from bergloom_spark.lake.statistics import (
    _MAX_HASH,
    deserialize_theta,
    read_ndv_stats,
    serialize_theta,
    theta_estimate,
)


@settings(max_examples=120, deadline=None)
@given(
    hashes=st.lists(
        st.integers(min_value=1, max_value=_MAX_HASH - 1),
        max_size=300, unique=True,
    ),
    estimating=st.booleans(),
)
def test_theta_serialization_roundtrip_law(hashes, estimating):
    hs = np.array(sorted(hashes), dtype=np.int64)
    if estimating and len(hs):
        theta = int(hs[-1]) + 1
    elif estimating:
        theta = _MAX_HASH // 2
    else:
        theta = _MAX_HASH
    blob = serialize_theta(hs, theta)
    got, got_theta = deserialize_theta(blob)
    assert got.tolist() == hs.tolist()
    assert got_theta == theta


@settings(max_examples=80, deadline=None)
@given(
    hashes=st.lists(
        st.integers(min_value=1, max_value=_MAX_HASH - 1),
        max_size=100, unique=True,
    ),
    flip=st.integers(min_value=0, max_value=10_000),
)
def test_theta_bitflip_never_escapes(hashes, flip):
    """Attacker-bytes contract: any single corrupted byte decodes or
    raises ValueError — never a foreign exception."""
    blob = bytearray(
        serialize_theta(np.array(sorted(hashes), dtype=np.int64), _MAX_HASH)
    )
    blob[flip % len(blob)] ^= 0x5A
    try:
        deserialize_theta(bytes(blob))
    except ValueError:
        pass


def test_theta_estimator_accuracy():
    """KMV/theta estimate: exact below k; ~1/sqrt(k) relative error
    above it (checked loosely at 3 sigma)."""
    rng = np.random.default_rng(7)
    k = 1024
    for true_n in (10, 1000, 50_000, 400_000):
        pool = np.unique(
            rng.integers(1, _MAX_HASH, true_n * 2, dtype=np.int64)
        )
        # uniform subset (taking the SMALLEST n would skew density
        # low and bias the estimate ~2x high)
        hs = np.sort(rng.choice(pool, true_n, replace=False))
        if true_n <= k:
            est = theta_estimate(true_n, _MAX_HASH)
            assert est == true_n
        else:
            theta = int(hs[k])
            est = theta_estimate(k, theta)
            assert abs(est - true_n) / true_n < 3 / np.sqrt(k) + 0.02


class TestLakeStatistics:
    def test_compute_export_import_roundtrip(self, spark, tmp_path):
        from bergloom_spark.lake.iceberg_export import (
            export_iceberg_metadata,
        )
        from bergloom_spark.lake.iceberg_import import load_iceberg_table
        from bergloom_spark.lake.statistics import (
            compute_table_statistics,
        )

        df = spark.range(5000).select(
            F.col("id"), (F.col("id") % 97).alias("low"),
            F.when(F.col("id") % 10 == 0, None)
            .otherwise(F.col("id") % 41).alias("with_nulls"),
        )
        t = LakeTable.create(spark, str(tmp_path / "t"), df.schema)
        t.append(df)
        path = compute_table_statistics(t)
        t.refresh()
        ndv = t.ndv_stats()
        assert ndv["id"] == 5000  # below k: exact
        assert ndv["low"] == 97
        assert ndv["with_nulls"] == 41  # nulls are not values
        # snapshot-less commit: stats commit did not add a snapshot
        assert len(t.meta.snapshots) == 1
        mjson = export_iceberg_metadata(t.meta)
        doc = json.loads(open(mjson).read())
        assert doc["statistics"][0]["statistics-path"] == path
        assert doc["statistics"][0]["blob-metadata"]
        for b in doc["statistics"][0]["blob-metadata"]:
            assert b["properties"]["ndv"]
        t2 = load_iceberg_table(spark, mjson)
        assert t2.ndv_stats() == ndv

    def test_compute_on_file_scheme_root(self, spark, tmp_path):
        """The Puffin file is written and read through the root's
        FileIO, so a ``file://`` table root works like a bare path."""
        from bergloom_spark.lake.statistics import compute_table_statistics

        df = spark.range(300).select(
            F.col("id"), (F.col("id") % 7).alias("low")
        )
        t = LakeTable.create(spark, f"file://{tmp_path}/t", df.schema)
        t.append(df)
        path = compute_table_statistics(t)
        assert path.startswith("file://")
        assert t.ndv_stats() == {"id": 300, "low": 7}
        assert LakeTable.load(spark, t.meta.table_root).ndv_stats() == {
            "id": 300, "low": 7,
        }

    def test_stale_stats_surface_as_absent(self, spark, tmp_path):
        from bergloom_spark.lake.iceberg_export import (
            export_iceberg_metadata,
        )
        from bergloom_spark.lake.statistics import (
            compute_table_statistics,
        )

        df = spark.range(100).select(F.col("id"))
        t = LakeTable.create(spark, str(tmp_path / "t"), df.schema)
        t.append(df)
        compute_table_statistics(t)
        t.refresh()
        assert t.ndv_stats() == {"id": 100}
        t.append(df.select((F.col("id") + 100).alias("id")))
        t.refresh()
        assert t.ndv_stats() is None  # newer snapshot: stats stale
        # and the export carries NO statistics field for it
        doc = json.loads(open(export_iceberg_metadata(t.meta)).read())
        assert "statistics" not in doc

    def test_tampered_ndv_property_is_caught(self, spark, tmp_path):
        from bergloom_spark.lake.statistics import (
            compute_table_statistics,
        )

        df = spark.range(50).select(F.col("id"))
        t = LakeTable.create(spark, str(tmp_path / "t"), df.schema)
        t.append(df)
        path = compute_table_statistics(t)
        raw = open(path, "rb").read()
        tampered = raw.replace(b'"ndv": "50"', b'"ndv": "99"')
        assert tampered != raw
        tp = str(tmp_path / "tampered.puffin")
        open(tp, "wb").write(tampered)
        with pytest.raises(ValueError, match="disagrees"):
            read_ndv_stats(tp)


class TestPartitionStatistics:
    def test_partitioned_counts_and_roundtrip(self, spark, tmp_path):
        from bergloom_spark.lake.iceberg_export import (
            export_iceberg_metadata,
        )
        from bergloom_spark.lake.iceberg_import import load_iceberg_table
        from bergloom_spark.lake.statistics import (
            compute_partition_statistics,
        )

        df = spark.range(300).select(
            F.col("id"), (F.col("id") % 3).cast("string").alias("p")
        )
        t = LakeTable.create(
            spark, str(tmp_path / "t"), df.schema, partition_spec=["p"]
        )
        t.append(df)
        t.append_equality_deletes(
            spark.createDataFrame([(7,)], "id long"), ["id"]
        )
        compute_partition_statistics(t)
        t.refresh()
        stats = {
            r.partition.p: r for r in t.partition_stats_df().collect()
            if r.partition.p is not None
        }
        assert set(stats) == {"0", "1", "2"}
        assert all(s.data_record_count == 100 for s in stats.values())
        assert all(s.data_file_count >= 1 for s in stats.values())
        assert all(
            s.total_data_file_size_in_bytes > 0 for s in stats.values()
        )
        # the unpartitioned eq-delete entry lands under the null key
        null_rows = [
            r for r in t.partition_stats_df().collect()
            if r.partition.p is None
        ]
        assert null_rows and (
            null_rows[0].equality_delete_file_count == 1
        )
        # export → import keeps the pointer
        t2 = load_iceberg_table(
            spark, export_iceberg_metadata(t.meta)
        )
        got = sorted(
            (r.partition.p, r.data_record_count)
            for r in t2.partition_stats_df().collect()
            if r.partition.p is not None
        )
        assert got == [("0", 100), ("1", 100), ("2", 100)]

    def test_stale_partition_stats_absent(self, spark, tmp_path):
        from bergloom_spark.lake.statistics import (
            compute_partition_statistics,
        )

        df = spark.range(20).select(F.col("id"))
        t = LakeTable.create(spark, str(tmp_path / "t"), df.schema)
        t.append(df)
        compute_partition_statistics(t)
        t.refresh()
        assert t.partition_stats_df() is not None
        t.append(df.select((F.col("id") + 20).alias("id")))
        t.refresh()
        assert t.partition_stats_df() is None
