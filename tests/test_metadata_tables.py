"""Metadata / introspection tables (sources.metadata_tables): Iceberg
$snapshots/$manifests/$files/$partitions/$history and Delta DESCRIBE
HISTORY / file inventory — counts, paths, and partition tuples must agree
with the log/manifest ground truth through deletes and compaction."""

from __future__ import annotations

import json
import os

import pytest
# Long-running integration suite: deselected by default (see pyproject
# [tool.pytest.ini_options]); run with `pytest -m ""` to include it.
pytestmark = pytest.mark.slow


from buzz_rust_spark.sources import metadata_tables as mt
from buzz_rust_spark.sources.iceberg import IcebergCatalog


def _seed(spark):
    return spark.createDataFrame(
        [(i, f"s{i % 2}", float(i)) for i in range(12)],
        "id long, g string, v double",
    )


def test_iceberg_metadata_tables_through_lifecycle(spark, tmp_path):
    from buzz_rust_spark.sources.iceberg_writer import (
        delete_iceberg,
        merge_iceberg,
        rewrite_iceberg,
        write_iceberg,
    )

    root = str(tmp_path / "t")
    write_iceberg(_seed(spark), root, partition_by=["g"])
    merge_iceberg(
        spark, root,
        spark.createDataFrame([(3, "s1", 99.0)], "id long, g string, v double"),
        ["id"],
    )
    delete_iceberg(spark, root, "id = 7")
    rewrite_iceberg(spark, root)

    cat = IcebergCatalog("t", root)
    snaps = mt.iceberg_snapshots(spark, root)
    assert snaps.count() == len(cat._snapshots) == 4
    ops = {r.snapshot_id: r.operation for r in snaps.collect()}
    assert ops[cat.resolved_snapshot_id] == "replace"  # the rewrite

    # manifests agree with the pinned snapshot's manifest list
    mans = mt.iceberg_manifests(spark, root)
    assert mans.count() == len(cat._manifests)
    assert {r.path for r in mans.collect()} == {
        m["manifest_path"] for m in cat._manifests
    }

    # files: live data files = the scan plan's files; delete files purged
    # by the rewrite
    files = mt.iceberg_files(spark, root)
    rows = files.collect()
    data_paths = {r.file_path for r in rows if r.content == "data"}
    plan_files = {f.key for f in cat.pruned_files(spark, None)}
    from buzz_rust_spark.sources.iceberg import _spark_uri

    assert {_spark_uri(p) for p in data_paths} == plan_files
    assert all(r.content == "data" for r in rows)  # compaction purged MOR
    # record counts: sum equals the live row count
    total = sum(r.record_count for r in rows)
    assert total == cat.to_dataframe(spark).count() == 11

    # partitions roll the files up exactly
    parts = {
        r.partition_json: (r.file_count, r.record_count)
        for r in mt.iceberg_partitions(spark, root).collect()
    }
    assert set(parts) == {'{"g": "s0"}', '{"g": "s1"}'}
    assert sum(n for _, (_, n) in parts.items()) == 11

    # history: every snapshot on the current ancestry
    hist = mt.iceberg_history(spark, root).collect()
    assert len(hist) == 4
    assert all(r.is_current_ancestor for r in hist)

    # time travel: the pre-delete snapshot still shows the delete files
    pre = [s["snapshot-id"] for s in cat._snapshots][1]  # after merge
    f_pre = mt.iceberg_files(spark, root, snapshot_id=pre)
    assert f_pre.where("content = 'equality-deletes'").count() >= 1


def test_iceberg_history_marks_abandoned_forks(spark, tmp_path):
    from buzz_rust_spark.sources.iceberg_writer import (
        rollback_iceberg,
        write_iceberg,
    )

    root = str(tmp_path / "t")
    write_iceberg(_seed(spark), root)
    s0 = IcebergCatalog("t", root).resolved_snapshot_id
    write_iceberg(_seed(spark), root, mode="append")
    abandoned = IcebergCatalog("t", root).resolved_snapshot_id
    rollback_iceberg(root, s0)
    write_iceberg(_seed(spark), root, mode="append")
    hist = {r.snapshot_id: r.is_current_ancestor
            for r in mt.iceberg_history(spark, root).collect()}
    assert hist[s0] is True
    assert hist[abandoned] is False


def test_delta_metadata_tables_through_lifecycle(spark, tmp_path):
    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
    from buzz_rust_spark.sources.delta_writer import (
        delete_delta,
        merge_delta,
        optimize_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    # one file per partition: the DV delete below must be PARTIAL (a DV
    # covering a whole file degrades to a plain remove)
    write_delta(_seed(spark).coalesce(1), root, partition_by=["g"])
    merge_delta(
        spark, root,
        spark.createDataFrame(
            [(3, "s1", 99.0)], "id long, g string, v double"
        ).coalesce(1),
        on=["id"],
    )
    delete_delta(spark, root, "id = 7", mode="dv")
    hist = mt.delta_history(spark, root).orderBy("version").collect()
    assert [r.version for r in hist] == [0, 1, 2]
    assert hist[0].operation == "CREATE TABLE"
    assert hist[1].num_added_files >= 1 and hist[1].num_removed_files >= 1
    # the DV delete adds no data file; it re-adds the DV-carrying file
    files = mt.delta_files(spark, root).collect()
    cat = DeltaCatalog("t", root)
    assert {r.path for r in files} == set(cat._live_adds)
    assert any(r.has_deletion_vector and r.dv_cardinality == 1 for r in files)
    # partition rollup: logical keys, counts match the live inventory
    parts = {
        r.partition_json: r.file_count
        for r in mt.delta_partitions(spark, root).collect()
    }
    assert set(parts) == {'{"g": "s0"}', '{"g": "s1"}'}
    assert sum(parts.values()) == len(files)
    # compaction shrinks the inventory; history gains a REWRITE row
    optimize_delta(spark, root, target_file_bytes=1 << 30)
    files2 = mt.delta_files(spark, root).collect()
    assert len(files2) < len(files)
    assert not any(r.has_deletion_vector for r in files2)  # purged
    ops = [r.operation for r in mt.delta_history(spark, root)
           .orderBy("version").collect()]
    assert ops[-1] == "REWRITE"
    # time travel pins the inventory
    assert mt.delta_files(spark, root, version=0).count() == len(
        DeltaCatalog("t", root, version=0)._live_adds
    )


def test_metadata_tables_guards(spark, tmp_path):
    from buzz_rust_spark.errors import BuzzBadRequestError

    with pytest.raises(BuzzBadRequestError, match="not a Delta table"):
        mt.delta_history(spark, str(tmp_path / "nope"))


def test_engine_metadata_catalog_suffix(spark, tmp_path):
    """BuzzCatalog uris take Iceberg's `$table` metadata suffixes: the
    engine routes `uri$files` / `uri$refs` (Iceberg) and `uri$history`
    (Delta) to the metadata tables, queryable like any catalog."""
    import json as _json

    from buzz_rust_spark.engine import BuzzEngine
    from buzz_rust_spark.sources.delta_writer import write_delta
    from buzz_rust_spark.sources.iceberg_writer import (
        delete_iceberg,
        write_iceberg,
    )

    ice = str(tmp_path / "ice")
    dl = str(tmp_path / "dl")
    write_iceberg(_seed(spark), ice, partition_by=["g"])
    delete_iceberg(spark, ice, "id = 3")
    write_delta(_seed(spark), dl)
    eng = BuzzEngine(spark)

    q = {
        "steps": [
            {
                "sql": (
                    "SELECT content, COUNT(*) AS n FROM f "
                    "GROUP BY content ORDER BY content"
                ),
                "name": "s1",
                "step_type": "HBee",
            }
        ],
        "capacity": {"zones": 1},
        "catalogs": [{"name": "f", "type": "Iceberg", "uri": ice + "$files"}],
    }
    rows = {(r.content, r.n) for r in eng.run_json(_json.dumps(q)).collect()}
    assert ("data", 2) in rows  # one file per partition value
    assert any(c.endswith("deletes") for c, _ in rows)

    q2 = {
        "steps": [
            {
                "sql": "SELECT version, operation FROM h ORDER BY version",
                "name": "s1",
                "step_type": "HBee",
            }
        ],
        "capacity": {"zones": 1},
        "catalogs": [
            {"name": "h", "type": "DeltaLake", "uri": dl + "$history"}
        ],
    }
    hist = eng.run_json(_json.dumps(q2)).collect()
    assert [r.version for r in hist] == [0]
    assert hist[0].operation == "CREATE TABLE"


def test_iceberg_refs_table(spark, tmp_path):
    from buzz_rust_spark.sources.iceberg_writer import (
        tag_iceberg,
        write_iceberg,
    )
    from buzz_rust_spark.sources.metadata_tables import iceberg_refs

    root = str(tmp_path / "t")
    write_iceberg(_seed(spark), root)
    snap = IcebergCatalog("t", root).resolved_snapshot_id
    tag_iceberg(root, "v1.0", snap)
    refs = {r.name: (r.type, r.snapshot_id)
            for r in iceberg_refs(spark, root).collect()}
    assert refs["v1.0"] == ("tag", snap)
    assert refs["main"][1] == snap


def test_iceberg_files_bounds_decode(spark, tmp_path):
    """$files carries decoded per-column [lower, upper] bounds (the
    readable_metrics analog) that bracket the real data."""
    from buzz_rust_spark.sources.iceberg_writer import write_iceberg

    root = str(tmp_path / "t")
    write_iceberg(
        spark.createDataFrame(
            [(1, "aa", 1.5), (9, "zz", 4.5)], "id long, s string, v double"
        ).coalesce(1),
        root,
    )
    rows = mt.iceberg_files(spark, root).collect()
    assert len(rows) == 1 and rows[0].bounds_json
    b = json.loads(rows[0].bounds_json)
    assert b["id"] == [1, 9]
    assert b["s"] == ["aa", "zz"]
    assert b["v"] == [1.5, 4.5]


def test_detail_tables(spark, tmp_path):
    """DESCRIBE DETAIL twins: one-row summaries for both formats, incl.
    the engine `$detail` suffix route."""
    import json as _json

    from buzz_rust_spark.engine import BuzzEngine
    from buzz_rust_spark.sources.delta_writer import write_delta
    from buzz_rust_spark.sources.iceberg_writer import write_iceberg

    ice = str(tmp_path / "ice")
    dl = str(tmp_path / "dl")
    write_iceberg(_seed(spark), ice, partition_by=["g"])
    write_delta(_seed(spark).coalesce(1), dl, partition_by=["g"])

    r = mt.iceberg_detail(spark, ice).collect()[0]
    assert r.format == "iceberg" and r.format_version == 2
    assert r.num_data_files == 2 and r.record_count == 12
    assert _json.loads(r.partition_columns_json) == ["g"]
    assert r.num_snapshots == 1

    d = mt.delta_detail(spark, dl).collect()[0]
    assert d.format == "delta" and d.latest_version == 0
    assert d.num_files == 2 and d.size_bytes > 0
    assert _json.loads(d.partition_columns_json) == ["g"]

    eng = BuzzEngine(spark)
    q = {
        "steps": [
            {"sql": "SELECT num_data_files FROM t", "name": "s1",
             "step_type": "HBee"}
        ],
        "capacity": {"zones": 1},
        "catalogs": [
            {"name": "t", "type": "Iceberg", "uri": ice + "$detail"}
        ],
    }
    assert eng.run_json(_json.dumps(q)).collect()[0].num_data_files == 2


def test_iceberg_files_distributed_past_threshold(spark, tmp_path, monkeypatch):
    """Round-11 seam: above DRIVER_PLAN_MAX_MANIFESTS, $files rows are
    built inside the distributed mapInPandas job — the driver decode
    (_decode_entries) must never run, and the output must equal the
    driver path's byte-for-byte."""
    from pyspark.sql import functions as F

    from buzz_rust_spark.sources.iceberg_writer import write_iceberg

    root = str(tmp_path / "t")
    df = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_iceberg(df.where("k < 10").coalesce(1), root)
    write_iceberg(
        df.where("k >= 10 AND k < 20").coalesce(1), root, mode="append"
    )
    write_iceberg(df.where("k >= 20").coalesce(1), root, mode="append")

    driver_rows = sorted(mt.iceberg_files(spark, root).collect())

    monkeypatch.setattr(IcebergCatalog, "DRIVER_PLAN_MAX_MANIFESTS", 1)

    def boom(self, *a, **k):
        raise AssertionError("driver decode ran past the threshold")

    monkeypatch.setattr(IcebergCatalog, "_decode_entries", boom)
    dist_rows = sorted(mt.iceberg_files(spark, root).collect())
    assert dist_rows == driver_rows and len(dist_rows) == 3
    # $partitions composes on top of the distributed frame
    parts = mt.iceberg_partitions(spark, root).collect()
    assert parts[0]["record_count"] == 30


def test_delta_files_distributed_from_checkpoint(spark, tmp_path, monkeypatch):
    """Round-11 seam: past the checkpoint-size threshold, delta_files
    builds its rows from the checkpoint parquet executor-side — the
    driver log replay (DeltaCatalog) must never run — and unions the
    post-checkpoint tail (re-adds, removes, a DV delete) exactly like
    the driver path."""
    from pyspark.sql import functions as F

    import buzz_rust_spark.sources.delta_catalog as dc
    from buzz_rust_spark.sources.delta_writer import delete_delta, write_delta

    root = str(tmp_path / "t")
    # Explicit partition counts fix the written layout at any core count:
    # two files at v0, then three appended, of which only [23, 25] holds a
    # row the delete matches.  The delete rewrites three files into as many
    # as the core count packs them, but the two untouched appended files
    # keep at least three live files.
    df = spark.range(0, 20, 1, 2).select("id", F.col("id").alias("v"))
    # checkpoint at v0, then a tail: append + cow delete (remove + add)
    write_delta(df, root, checkpoint_interval=1)
    write_delta(
        spark.range(20, 30, 1, 3).select("id", F.col("id").alias("v")),
        root, mode="append",
    )
    delete_delta(spark, root, "id % 7 = 3")

    driver_rows = sorted(mt.delta_files(spark, root).collect())
    assert len(driver_rows) >= 3

    monkeypatch.setattr(mt, "DELTA_FILES_DRIVER_CP_BYTES", -1)
    real_init = dc.DeltaCatalog.__init__

    def boom(self, *a, **k):
        raise AssertionError("driver log replay ran past the threshold")

    monkeypatch.setattr(dc.DeltaCatalog, "__init__", boom)
    try:
        dist_rows = sorted(mt.delta_files(spark, root).collect())
    finally:
        monkeypatch.setattr(dc.DeltaCatalog, "__init__", real_init)
    assert dist_rows == driver_rows
    # time travel keeps the (correct) driver path
    v0 = mt.delta_files(spark, root, version=0).count()
    assert v0 == 2
