"""Delta catalog snapshot semantics: mirrors the reference's delta tests
(delta_catalog.rs:150-208 — overwrite exposes only live files; partitioned
table exposes partition values; FIXTURES.md F4)."""

from __future__ import annotations

import json
import os

import pytest
# Long-running integration suite: deselected by default (see pyproject
# [tool.pytest.ini_options]); run with `pytest -m ""` to include it.
pytestmark = pytest.mark.slow

from pyspark.sql.types import LongType, StringType, StructField, StructType

from buzz_rust_spark import BuzzEngine, BuzzQuery, DeltaCatalog
from buzz_rust_spark.errors import BuzzExecutionError

DEPT_SCHEMA = StructType(
    [
        StructField("dept_name", StringType()),
        StructField("dept_staff", LongType()),
    ]
)


def _schema_string(partitioned: bool) -> str:
    fields = [
        {"name": "year", "type": "string", "nullable": True, "metadata": {}},
        {"name": "dept_name", "type": "string", "nullable": True, "metadata": {}},
        {"name": "dept_staff", "type": "long", "nullable": True, "metadata": {}},
    ]
    if not partitioned:
        fields = fields[1:]
    return json.dumps({"type": "struct", "fields": fields})


def _write_commit(log_dir: str, version: int, actions: list[dict]) -> None:
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _write_part(spark, path: str, rows: list[tuple[str, int]]) -> None:
    spark.createDataFrame(rows, schema=DEPT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path + ".tmpdir")
    import glob
    import shutil

    part = glob.glob(path + ".tmpdir/part-*.parquet")[0]
    shutil.move(part, path)
    shutil.rmtree(path + ".tmpdir")


def make_partitioned_table(spark, root: str) -> str:
    table = os.path.join(root, "delta-partitioned")
    os.makedirs(table, exist_ok=True)
    _write_part(spark, os.path.join(table, "f2020.parquet"), [("eng", 10), ("ops", 5)])
    _write_part(spark, os.path.join(table, "f2021.parquet"), [("eng", 12)])
    _write_commit(
        os.path.join(table, "_delta_log"),
        0,
        [
            {
                "metaData": {
                    "id": "t1",
                    "schemaString": _schema_string(partitioned=True),
                    "partitionColumns": ["year"],
                    "format": {"provider": "parquet"},
                }
            },
            {
                "add": {
                    "path": "f2020.parquet",
                    "size": 1,
                    "partitionValues": {"year": "2020"},
                    "dataChange": True,
                }
            },
            {
                "add": {
                    "path": "f2021.parquet",
                    "size": 1,
                    "partitionValues": {"year": "2021"},
                    "dataChange": True,
                }
            },
        ],
    )
    return table


def make_overwrite_table(spark, root: str) -> str:
    table = os.path.join(root, "delta-overwrite")
    os.makedirs(table, exist_ok=True)
    _write_part(spark, os.path.join(table, "old.parquet"), [("stale", 1)])
    _write_part(spark, os.path.join(table, "new.parquet"), [("fresh", 2), ("live", 3)])
    log = os.path.join(table, "_delta_log")
    _write_commit(
        log,
        0,
        [
            {
                "metaData": {
                    "id": "t2",
                    "schemaString": _schema_string(partitioned=False),
                    "partitionColumns": [],
                    "format": {"provider": "parquet"},
                }
            },
            {"add": {"path": "old.parquet", "size": 1, "partitionValues": {}, "dataChange": True}},
        ],
    )
    _write_commit(
        log,
        1,
        [
            {"add": {"path": "new.parquet", "size": 1, "partitionValues": {}, "dataChange": True}},
            {"remove": {"path": "old.parquet", "dataChange": True}},
        ],
    )
    return table


def test_partitioned_delta_snapshot(spark, tmp_path):
    table = make_partitioned_table(spark, str(tmp_path))
    cat = DeltaCatalog("dept", table)
    assert cat.partition_cols == ["year"]
    df = cat.to_dataframe(spark)
    rows = {(r["year"], r["dept_name"], r["dept_staff"]) for r in df.collect()}
    assert rows == {("2020", "eng", 10), ("2020", "ops", 5), ("2021", "eng", 12)}
    # partition filter prunes to one file
    pruned = cat.to_dataframe(spark, partition_filter="year='2021'")
    assert {r["dept_name"] for r in pruned.collect()} == {"eng"}


def test_overwrite_exposes_only_live_files(spark, tmp_path):
    """reference: delta_catalog.rs:150-177."""
    table = make_overwrite_table(spark, str(tmp_path))
    cat = DeltaCatalog("dept", table)
    assert [os.path.basename(f.key) for f in cat.files] == ["new.parquet"]
    rows = {r["dept_name"] for r in cat.to_dataframe(spark).collect()}
    assert rows == {"fresh", "live"}


def test_delta_through_engine_query_json(spark, tmp_path):
    table = make_partitioned_table(spark, str(tmp_path))
    engine = BuzzEngine(spark, strict=True)
    q = BuzzQuery.from_dict(
        {
            "steps": [
                {
                    "sql": "SELECT year, SUM(dept_staff) AS staff FROM dept GROUP BY year",
                    "name": "dept_map",
                    "step_type": "HBee",
                    "partition_filter": "year>='2020'",
                },
                {
                    "sql": "SELECT year, SUM(staff) AS staff FROM dept_map GROUP BY year",
                    "name": "dept_reduce",
                    "step_type": "HComb",
                },
            ],
            "capacity": {"zones": 1},
            "catalogs": [{"name": "dept", "type": "DeltaLake", "uri": table}],
        }
    )
    rows = {(r["year"], r["staff"]) for r in engine.run(q).collect()}
    assert rows == {("2020", 15), ("2021", 12)}


def test_missing_delta_log_errors(tmp_path):
    with pytest.raises(BuzzExecutionError):
        DeltaCatalog("nope", str(tmp_path / "not-a-table"))

def test_time_travel_versions(spark, tmp_path):
    """version=N replays the log only through commit N (time travel)."""
    table = make_overwrite_table(spark, str(tmp_path))
    v0 = DeltaCatalog("dept", table, version=0)
    assert [os.path.basename(f.key) for f in v0.files] == ["old.parquet"]
    assert {r["dept_name"] for r in v0.to_dataframe(spark).collect()} == {"stale"}
    v1 = DeltaCatalog("dept", table, version=1)
    assert [os.path.basename(f.key) for f in v1.files] == ["new.parquet"]
    with pytest.raises(BuzzExecutionError, match="no version 7"):
        DeltaCatalog("dept", table, version=7)


# ---- write path: write_delta → DeltaCatalog round trips ----


def test_write_delta_append_roundtrip(spark, tmp_path):
    from buzz_rust_spark.sources import write_delta

    table = str(tmp_path / "w-append")
    df1 = spark.createDataFrame([("eng", 10), ("ops", 5)], schema=DEPT_SCHEMA)
    df2 = spark.createDataFrame([("sales", 7)], schema=DEPT_SCHEMA)
    assert write_delta(df1.coalesce(1), table) == 0
    assert write_delta(df2.coalesce(1), table) == 1
    cat = DeltaCatalog("dept", table)
    rows = {(r["dept_name"], r["dept_staff"]) for r in cat.to_dataframe(spark).collect()}
    assert rows == {("eng", 10), ("ops", 5), ("sales", 7)}
    # time travel to the first commit sees only df1
    v0 = DeltaCatalog("dept", table, version=0)
    assert {r["dept_name"] for r in v0.to_dataframe(spark).collect()} == {"eng", "ops"}


def test_write_delta_overwrite_removes_old(spark, tmp_path):
    from buzz_rust_spark.sources import write_delta

    table = str(tmp_path / "w-overwrite")
    write_delta(
        spark.createDataFrame([("stale", 1)], schema=DEPT_SCHEMA).coalesce(1), table
    )
    write_delta(
        spark.createDataFrame([("fresh", 2)], schema=DEPT_SCHEMA).coalesce(1),
        table,
        mode="overwrite",
    )
    cat = DeltaCatalog("dept", table)
    assert {r["dept_name"] for r in cat.to_dataframe(spark).collect()} == {"fresh"}
    # the overwritten file is still reachable via time travel
    v0 = DeltaCatalog("dept", table, version=0)
    assert {r["dept_name"] for r in v0.to_dataframe(spark).collect()} == {"stale"}


def test_write_delta_partitioned(spark, tmp_path):
    from buzz_rust_spark.sources import write_delta

    table = str(tmp_path / "w-part")
    df = spark.createDataFrame(
        [("2020", "eng", 10), ("2020", "ops", 5), ("2021", "eng", 12)],
        schema="year string, dept_name string, dept_staff long",
    )
    write_delta(df.repartition(2), table, partition_by=["year"])
    cat = DeltaCatalog("dept", table)
    assert cat.partition_cols == ["year"]
    assert all(dict(f.partitions)["year"] in ("2020", "2021") for f in cat.files)
    rows = {
        (r["year"], r["dept_name"], r["dept_staff"])
        for r in cat.to_dataframe(spark).collect()
    }
    assert rows == {("2020", "eng", 10), ("2020", "ops", 5), ("2021", "eng", 12)}
    pruned = cat.to_dataframe(spark, partition_filter="year='2021'")
    assert {r["dept_name"] for r in pruned.collect()} == {"eng"}


def test_write_delta_rejects_schema_drift(spark, tmp_path):
    from buzz_rust_spark.errors import BuzzSchemaError
    from buzz_rust_spark.sources import write_delta

    table = str(tmp_path / "w-drift")
    write_delta(spark.createDataFrame([("eng", 10)], schema=DEPT_SCHEMA), table)
    drifted = spark.createDataFrame([("eng", "ten")], "dept_name string, dept_staff string")
    with pytest.raises(BuzzSchemaError):
        write_delta(drifted, table)


def test_write_delta_checkpoint_replay(spark, tmp_path):
    from buzz_rust_spark.sources import write_delta

    table = str(tmp_path / "w-ckpt")
    for i in range(4):
        write_delta(
            spark.createDataFrame([(f"d{i}", i)], schema=DEPT_SCHEMA).coalesce(1),
            table,
            checkpoint_interval=2,
        )
    log = os.path.join(table, "_delta_log")
    assert os.path.exists(os.path.join(log, "_last_checkpoint"))
    assert glob_checkpoints(log), "no checkpoint parquet written"
    cat = DeltaCatalog("dept", table)
    assert {r["dept_name"] for r in cat.to_dataframe(spark).collect()} == {
        "d0",
        "d1",
        "d2",
        "d3",
    }


def glob_checkpoints(log_dir):
    import glob as _g

    return _g.glob(os.path.join(log_dir, "*.checkpoint.parquet"))


def test_checkpoint_add_actions_carry_partition_values(spark, tmp_path):
    """Delta spec: every checkpointed add action must carry partitionValues
    (an empty map for unpartitioned tables) — spec-conformant readers like
    delta-rs reject adds with the field dropped."""
    import pyarrow.parquet as pq

    from buzz_rust_spark.sources import write_delta

    table = str(tmp_path / "w-ckpt-pv")
    for i in range(2):
        write_delta(
            spark.createDataFrame([(f"d{i}", i)], schema=DEPT_SCHEMA).coalesce(1),
            table,
            checkpoint_interval=2,
        )
    cps = glob_checkpoints(os.path.join(table, "_delta_log"))
    assert cps
    rows = pq.read_table(cps[0]).to_pylist()
    adds = [r["add"] for r in rows if r["add"] is not None]
    assert adds
    for a in adds:
        assert a["partitionValues"] == []  # empty MAP, present — not dropped
    meta = next(r["metaData"] for r in rows if r["metaData"] is not None)
    assert meta["format"]["options"] == []
    # partitioned table: values survive the map round trip through the reader
    ptable = str(tmp_path / "w-ckpt-pv-part")
    for i in range(2):
        write_delta(
            spark.createDataFrame([(f"d{i}", i)], schema=DEPT_SCHEMA).coalesce(1),
            ptable,
            partition_by=["dept_name"],
            checkpoint_interval=2,
        )
    cat = DeltaCatalog("dept", ptable)
    assert {r["dept_name"] for r in cat.to_dataframe(spark).collect()} == {"d0", "d1"}


def _table_files(table_dir):
    import glob as _g

    return {
        os.path.relpath(p, table_dir).replace(os.sep, "/")
        for p in _g.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True)
        if "_delta_log" not in p
    }


def test_optimize_compacts_small_files(spark, tmp_path):
    """OPTIMIZE bin-packs many small commit files into few, commits the swap
    atomically with dataChange=False, keeps rows identical, and leaves prior
    versions time-travelable until VACUUM."""
    from buzz_rust_spark.sources import optimize_delta, vacuum_delta, write_delta

    table = str(tmp_path / "w-opt")
    for i in range(6):  # 6 commits → 6 small files
        write_delta(
            spark.createDataFrame([(f"d{i}", i)], schema=DEPT_SCHEMA).coalesce(1),
            table,
        )
    pre_files = _table_files(table)
    assert len(pre_files) == 6
    pre_rows = {
        (r["dept_name"], r["dept_staff"])
        for r in DeltaCatalog("dept", table).to_dataframe(spark).collect()
    }

    v = optimize_delta(spark, table)
    assert v == 6  # one new commit after versions 0-5
    cat = DeltaCatalog("dept", table)
    post_rows = {
        (r["dept_name"], r["dept_staff"])
        for r in cat.to_dataframe(spark).collect()
    }
    assert post_rows == pre_rows
    # the snapshot now references ONE compacted file
    commit = os.path.join(table, "_delta_log", f"{v:020d}.json")
    actions = [json.loads(l) for l in open(commit)]
    assert sum(1 for a in actions if "remove" in a) == 6
    adds = [a["add"] for a in actions if "add" in a]
    assert len(adds) == 1 and adds[0]["dataChange"] is False

    # old files still on disk → time travel to version 0 still works
    v0 = {
        (r["dept_name"], r["dept_staff"])
        for r in DeltaCatalog("dept", table, version=0).to_dataframe(spark).collect()
    }
    assert v0 == {("d0", 0)}

    # idempotent: nothing left to compact
    assert optimize_delta(spark, table) is None

    # vacuum with zero retention removes the 6 unreferenced originals
    removed = vacuum_delta(table, retention_hours=0.0)
    assert len(removed) == 6
    assert _table_files(table) == {a["path"] for a in adds}
    # latest snapshot still reads fine
    assert {
        (r["dept_name"], r["dept_staff"])
        for r in DeltaCatalog("dept", table).to_dataframe(spark).collect()
    } == pre_rows


def test_optimize_partitioned_preserves_partition_values(spark, tmp_path):
    from buzz_rust_spark.sources import optimize_delta, write_delta

    table = str(tmp_path / "w-opt-part")
    for i in range(4):
        write_delta(
            spark.createDataFrame(
                [(f"d{i % 2}", i)], schema=DEPT_SCHEMA
            ).coalesce(1),
            table,
            partition_by=["dept_name"],
        )
    v = optimize_delta(spark, table)
    assert v is not None
    commit = os.path.join(table, "_delta_log", f"{v:020d}.json")
    adds = [json.loads(l)["add"] for l in open(commit) if "add" in json.loads(l)]
    assert {a["partitionValues"]["dept_name"] for a in adds} == {"d0", "d1"}
    rows = DeltaCatalog("dept", table).to_dataframe(spark).collect()
    assert {(r["dept_name"], r["dept_staff"]) for r in rows} == {
        ("d0", 0),
        ("d1", 1),
        ("d0", 2),
        ("d1", 3),
    }


def test_write_schema_merge_evolves_fills_and_upcasts(spark, tmp_path):
    """schema_mode='merge' on append: a NEW column evolves into the
    table (earlier rows read NULL), a MISSING nullable column
    null-fills, an int DataFrame column upcasts into the table's long —
    while strict mode still refuses the same drift, narrowing refuses
    with the promote hint, unaddable types refuse, and a non-nullable
    column cannot be silently null-filled."""
    from buzz_rust_spark.errors import BuzzSchemaError
    from buzz_rust_spark.sources import write_delta

    table = str(tmp_path / "t")
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    base_schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("v", StringType(), True),
        ]
    )
    write_delta(
        spark.createDataFrame([(1, "a")], base_schema).coalesce(1), table
    )

    drifted = spark.createDataFrame([(2, 1.5)], "id int, n double").coalesce(1)
    with pytest.raises(BuzzSchemaError, match="schema mismatch"):
        write_delta(drifted, table)
    v = write_delta(drifted, table, schema_mode="merge")
    assert v == 2  # evolution committed version 1, the append version 2
    rows = {
        (r.id, r.v, r.n)
        for r in DeltaCatalog("t", table).to_dataframe(spark).collect()
    }
    assert rows == {(1, "a", None), (2, None, 1.5)}

    # strict append of the ORIGINAL shape now drifts (n missing) — but
    # merge null-fills it
    orig = spark.createDataFrame([(3, "c")], base_schema).coalesce(1)
    with pytest.raises(BuzzSchemaError, match="schema mismatch"):
        write_delta(orig, table)
    write_delta(orig, table, schema_mode="merge")
    assert (3, "c", None) in {
        (r.id, r.v, r.n)
        for r in DeltaCatalog("t", table).to_dataframe(spark).collect()
    }

    # narrowing: table declares n double, a string df column refuses
    with pytest.raises(BuzzSchemaError, match="lossless upcast"):
        write_delta(
            spark.createDataFrame([(4, "x")], "id long, n string"),
            table, schema_mode="merge",
        )
    # unaddable: array column cannot schema-merge
    with pytest.raises(BuzzSchemaError, match="not addable"):
        write_delta(
            spark.createDataFrame(
                [(5, ["a"])], "id long, tags array<string>"
            ),
            table, schema_mode="merge",
        )
    # non-nullable id absent → refuse, never null-fill
    with pytest.raises(BuzzSchemaError, match="non-nullable"):
        write_delta(
            spark.createDataFrame([("z",)], "v string"),
            table, schema_mode="merge",
        )


def test_optimize_zorder_clusters_for_zone_map_pruning(spark, tmp_path):
    """OPTIMIZE ZORDER BY: every file is rewritten with rows clustered on
    the Z-curve over (x, y), so the recorded add-action stats become
    TIGHT on both dimensions and zone-map pruning skips files for a band
    predicate on EITHER column — before the rewrite the scattered layout
    prunes nothing.  Content stays identical and the commit is still
    dataChange=False."""
    from buzz_rust_spark.errors import BuzzBadRequestError
    from buzz_rust_spark.sources import optimize_delta, write_delta
    from buzz_rust_spark.sources.zonemap import (
        prune_files_by_stats,
        stats_from_delta_log,
    )

    table = str(tmp_path / "w-zorder")
    rows = [(i, float(i % 100), float((i * 37) % 100)) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    # 4 hash-scattered files: every file spans ~the full (x, y) range
    write_delta(df.repartition(4), table)

    cat0 = DeltaCatalog("t", table)
    stats0 = stats_from_delta_log(cat0)
    assert len(cat0.files) == 4
    assert (
        len(prune_files_by_stats(cat0.files, stats0, [("x", "<", 10.0)]))
        == 4
    )  # scattered: nothing prunable

    v = optimize_delta(
        spark, table, target_file_bytes=4096, zorder_by=["x", "y"]
    )
    assert v is not None
    commit = os.path.join(table, "_delta_log", f"{v:020d}.json")
    actions = [json.loads(l) for l in open(commit)]
    assert all(
        a["add"]["dataChange"] is False for a in actions if "add" in a
    )
    cat1 = DeltaCatalog("t", table)
    assert len(cat1.files) >= 4  # enough curve segments to split both dims
    stats1 = stats_from_delta_log(cat1)
    for col in ("x", "y"):
        kept = prune_files_by_stats(cat1.files, stats1, [(col, "<", 10.0)])
        assert len(kept) < len(cat1.files), f"no pruning on {col}"
    # content identical
    assert sorted(
        (r.id, r.x, r.y) for r in cat1.to_dataframe(spark).collect()
    ) == sorted(rows)

    # refusals: unknown / non-numeric / partition columns
    with pytest.raises(BuzzBadRequestError, match="not a table column"):
        optimize_delta(spark, table, zorder_by=["nope"])
    table2 = str(tmp_path / "w-zorder-str")
    write_delta(
        spark.createDataFrame([("a", 1)], "s string, n long"), table2
    )
    with pytest.raises(BuzzBadRequestError, match="numeric or timestamp"):
        optimize_delta(spark, table2, zorder_by=["s"])
    table3 = str(tmp_path / "w-zorder-part")
    write_delta(
        spark.createDataFrame([("a", 1)], "s string, n long"), table3,
        partition_by=["s"],
    )
    with pytest.raises(BuzzBadRequestError, match="partition column"):
        optimize_delta(spark, table3, zorder_by=["n", "s"])


def test_vacuum_respects_retention(spark, tmp_path):
    from buzz_rust_spark.sources import optimize_delta, vacuum_delta, write_delta

    table = str(tmp_path / "w-vac")
    for i in range(3):
        write_delta(
            spark.createDataFrame([(f"d{i}", i)], schema=DEPT_SCHEMA).coalesce(1),
            table,
        )
    optimize_delta(spark, table)
    # default-ish retention: freshly-dereferenced files are too young to GC
    assert vacuum_delta(table, retention_hours=1.0) == []
    doomed = vacuum_delta(table, retention_hours=0.0, dry_run=True)
    assert len(doomed) == 3
    assert len(_table_files(table)) == 4  # dry run deleted nothing


def test_read_delta_changes_incremental(spark, tmp_path):
    """Incremental consumption: changes (v, latest] return exactly the rows
    added after v with their commit version; OPTIMIZE commits are invisible
    (dataChange=False); overwrites raise (append-only semantics)."""
    from buzz_rust_spark.sources import (
        optimize_delta,
        read_delta_changes,
        write_delta,
    )

    table = str(tmp_path / "w-changes")
    for i in range(3):  # versions 0,1,2
        write_delta(
            spark.createDataFrame([(f"d{i}", i)], schema=DEPT_SCHEMA).coalesce(1),
            table,
        )
    got = {
        (r["dept_name"], r["dept_staff"], r["_commit_version"])
        for r in read_delta_changes(spark, table, from_version=0).collect()
    }
    assert got == {("d1", 1, 1), ("d2", 2, 2)}

    # bounded upper end
    got01 = {
        (r["dept_name"], r["_commit_version"])
        for r in read_delta_changes(spark, table, 0, to_version=1).collect()
    }
    assert got01 == {("d1", 1)}

    # empty slice: zero rows, schema intact
    empty = read_delta_changes(spark, table, from_version=2)
    assert empty.count() == 0
    assert "dept_name" in empty.columns and "_commit_version" in empty.columns

    # OPTIMIZE (dataChange=False) is not a change
    v = optimize_delta(spark, table)
    assert v == 3
    assert read_delta_changes(spark, table, from_version=2).count() == 0

    # overwrite inside the window → typed error
    write_delta(
        spark.createDataFrame([("dX", 99)], schema=DEPT_SCHEMA).coalesce(1),
        table,
        mode="overwrite",
    )
    with pytest.raises(BuzzExecutionError, match="append-only"):
        read_delta_changes(spark, table, from_version=2)
    # ...but a window ending before the overwrite still reads fine
    assert read_delta_changes(spark, table, 0, to_version=2).count() == 2


def test_read_delta_changes_partitioned(spark, tmp_path):
    """Partition values re-attach from the log on the change read."""
    from buzz_rust_spark.sources import read_delta_changes, write_delta

    table = str(tmp_path / "w-changes-part")
    for i in range(2):
        write_delta(
            spark.createDataFrame([(f"d{i % 2}", i)], schema=DEPT_SCHEMA).coalesce(1),
            table,
            partition_by=["dept_name"],
        )
    got = {
        (r["dept_name"], r["dept_staff"], r["_commit_version"])
        for r in read_delta_changes(spark, table, from_version=-1).collect()
    }
    assert got == {("d0", 0, 0), ("d1", 1, 1)}


def test_concurrent_commit_race_rejected(spark, tmp_path):
    """Optimistic concurrency: a writer losing the race for the next version
    file gets a typed error, never a torn log (the O_EXCL claim)."""
    from buzz_rust_spark.sources import write_delta

    table = str(tmp_path / "w-race")
    write_delta(
        spark.createDataFrame([("d0", 0)], schema=DEPT_SCHEMA).coalesce(1), table
    )
    # another writer claims version 1 first
    rival = os.path.join(table, "_delta_log", f"{1:020d}.json")
    with open(rival, "w") as fh:
        fh.write(json.dumps({"add": {"path": "x.parquet", "size": 1,
                                     "partitionValues": {}, "dataChange": True,
                                     "modificationTime": 0}}) + "\n")
    with pytest.raises(BuzzExecutionError, match="concurrent"):
        # simulate the stale read: this writer computed "next version = 1"
        # before the rival's commit landed
        import buzz_rust_spark.sources.delta_writer as dw

        orig = dw._log_state

        def stale(log_dir):
            st = orig(log_dir)
            st.version = 0
            return st

        dw._log_state = stale
        try:
            write_delta(
                spark.createDataFrame([("d1", 1)], schema=DEPT_SCHEMA).coalesce(1),
                table,
            )
        finally:
            dw._log_state = orig


def test_delta_stats_recorded_and_prune_from_log(spark, tmp_path):
    """Every add action carries stats (numRecords/minValues/maxValues) from
    the staged file's footer; zone-map pruning can then skip files using the
    LOG alone — no footer reads — and results are unchanged."""
    from buzz_rust_spark.sources import write_delta
    from buzz_rust_spark.sources.zonemap import (
        prune_files_by_stats,
        stats_from_delta_log,
    )

    table = str(tmp_path / "w-stats")
    for lo in (0, 100, 200):  # three files with disjoint dept_staff ranges
        write_delta(
            spark.createDataFrame(
                [(f"d{lo + i}", lo + i) for i in range(10)], schema=DEPT_SCHEMA
            ).coalesce(1),
            table,
        )
    commit0 = os.path.join(table, "_delta_log", f"{0:020d}.json")
    adds = [json.loads(l)["add"] for l in open(commit0) if "add" in json.loads(l)]
    s = json.loads(adds[0]["stats"])
    assert s["numRecords"] == 10
    assert s["minValues"]["dept_staff"] == 0 and s["maxValues"]["dept_staff"] == 9

    cat = DeltaCatalog("dept", table)
    stats = stats_from_delta_log(cat)
    assert len(stats) == 3 and all(v for v in stats.values())
    pruned = prune_files_by_stats(cat.files, stats, [("dept_staff", ">=", 200)])
    assert len(pruned) == 1  # only the third file can match
    # checkpoint round-trips stats (string field, not dropped)
    for i in range(2):
        write_delta(
            spark.createDataFrame([(f"x{i}", 500 + i)], schema=DEPT_SCHEMA).coalesce(1),
            table,
            checkpoint_interval=5,  # versions 0..4 → checkpoint at v4
        )
    cps = glob_checkpoints(os.path.join(table, "_delta_log"))
    assert cps
    import pyarrow.parquet as pq

    rows = pq.read_table(cps[0]).to_pylist()
    cp_adds = [r["add"] for r in rows if r["add"] is not None]
    assert all(a.get("stats") for a in cp_adds)


# ---- scheme-agnostic log store (non-file: URIs) ----


def test_delta_catalog_through_mock_scheme(spark, tmp_path):
    """DeltaCatalog must read tables at non-file: URIs — the reference's
    Delta path is S3-native (delta_catalog.rs:33-48 try_new(uri, region)).
    The mock scheme routes '{scheme}://bucket/...' to a local directory,
    exercising the same LogStore code path a real object store uses."""
    from buzz_rust_spark.sources import register_scheme, unregister_scheme

    table = make_partitioned_table(spark, str(tmp_path))
    register_scheme(
        "mockfs", lambda uri: uri.replace("mockfs://bkt", str(tmp_path))
    )
    try:
        cat = DeltaCatalog(
            "dept", "mockfs://bkt/delta-partitioned", region="eu-west-1"
        )
        assert cat.partition_cols == ["year"]
        rows = cat.to_dataframe(spark).collect()
        assert sorted((r["dept_name"], r["dept_staff"], r["year"]) for r in rows) == [
            ("eng", 10, "2020"),
            ("eng", 12, "2021"),
            ("ops", 5, "2020"),
        ]
        pruned = cat.to_dataframe(spark, "year = '2021'").collect()
        assert [(r["dept_name"], r["dept_staff"]) for r in pruned] == [("eng", 12)]
    finally:
        unregister_scheme("mockfs")


def test_delta_changes_through_mock_scheme(spark, tmp_path):
    from buzz_rust_spark.sources import (
        read_delta_changes,
        register_scheme,
        unregister_scheme,
        write_delta,
    )

    table = os.path.join(str(tmp_path), "delta-incr")
    df1 = spark.createDataFrame([("eng", 1)], ["dept", "n"])
    df2 = spark.createDataFrame([("ops", 2)], ["dept", "n"])
    assert write_delta(df1.coalesce(1), table) == 0
    assert write_delta(df2.coalesce(1), table) == 1
    register_scheme("mockfs", lambda uri: uri.replace("mockfs://bkt", str(tmp_path)))
    try:
        changes = read_delta_changes(spark, "mockfs://bkt/delta-incr", from_version=0)
        assert [(r["dept"], r["n"], r["_commit_version"]) for r in changes.collect()] == [
            ("ops", 2, 1)
        ]
    finally:
        unregister_scheme("mockfs")


def test_delta_changes_missing_table_typed_error(spark, tmp_path):
    """A missing table dir raises the typed BuzzExecutionError, not a raw
    pyarrow FileNotFoundError (code-review r4)."""
    import pytest as _pytest

    from buzz_rust_spark.errors import BuzzExecutionError
    from buzz_rust_spark.sources import read_delta_changes

    with _pytest.raises(BuzzExecutionError, match="not a Delta table"):
        read_delta_changes(spark, str(tmp_path / "nope"), from_version=0)


# ---- review fixes: protocol gates, merge multiplicity, changes shape ----


def test_protocol_gate_refuses_advanced_tables(spark, tmp_path):
    """Spec: refuse tables whose protocol exceeds what we implement —
    replaying a deletion-vector table would resurrect deleted rows."""
    from buzz_rust_spark.errors import BuzzNotImplementedError
    from buzz_rust_spark.sources import write_delta

    table = str(tmp_path / "tbl")
    write_delta(spark.range(3).withColumnRenamed("id", "v"), table)
    # forge a protocol-upgrade commit like a modern writer would
    log = os.path.join(table, "_delta_log")
    with open(os.path.join(log, "00000000000000000001.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}}) + "\n")
    with pytest.raises(BuzzNotImplementedError, match="minReaderVersion=3"):
        DeltaCatalog("t", table)
    with pytest.raises(BuzzNotImplementedError, match="minWriterVersion=7"):
        write_delta(spark.range(1).withColumnRenamed("id", "v"), table)


def _make_column_mapped_table(spark, root: str, partitioned: bool = False) -> str:
    """A reader-v2 column-mapped (mode=name) table like delta-spark emits
    after a column rename: parquet files carry physical col-<uuid> names;
    the log schema carries logical names + physicalName metadata."""
    table = os.path.join(root, "delta-colmap")
    os.makedirs(table, exist_ok=True)
    phys_name, phys_staff, phys_year = "col-aaa111", "col-bbb222", "col-ccc333"
    data_schema = StructType(
        [
            StructField(phys_name, StringType()),
            StructField(phys_staff, LongType()),
        ]
    )
    rows_by_file = {
        "f1.parquet": [("eng", 10), ("ops", 5)],
        "f2.parquet": [("sci", 12)],
    }
    for fname, rows in rows_by_file.items():
        spark.createDataFrame(rows, schema=data_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(table, fname) + ".tmpdir")
        import glob
        import shutil

        part = glob.glob(os.path.join(table, fname) + ".tmpdir/part-*.parquet")[0]
        shutil.move(part, os.path.join(table, fname))
        shutil.rmtree(os.path.join(table, fname) + ".tmpdir")

    def field(name, typ, phys, fid):
        return {
            "name": name,
            "type": typ,
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": fid,
                "delta.columnMapping.physicalName": phys,
            },
        }

    fields = [
        field("team_name", "string", phys_name, 1),
        field("staff", "long", phys_staff, 2),
    ]
    if partitioned:
        fields.append(field("year", "string", phys_year, 3))
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "cm1",
                "schemaString": json.dumps({"type": "struct", "fields": fields}),
                "partitionColumns": ["year"] if partitioned else [],
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "3",
                },
                "format": {"provider": "parquet"},
            }
        },
    ]
    for i, fname in enumerate(rows_by_file):
        add = {
            "path": fname,
            "size": 1,
            "dataChange": True,
            "partitionValues": {phys_year: f"202{i}"} if partitioned else {},
            "stats": json.dumps(
                {
                    "numRecords": len(rows_by_file[fname]),
                    "minValues": {phys_staff: 5},
                    "maxValues": {phys_staff: 12},
                }
            ),
        }
        actions.append({"add": add})
    _write_commit(os.path.join(table, "_delta_log"), 0, actions)
    return table


def test_column_mapped_table_reads_logical_names(spark, tmp_path):
    """Reader protocol v2 / columnMapping.mode=name (r4 VERDICT #2): the
    snapshot scans by physical parquet names and presents the LOGICAL
    (renamed) schema, values intact; stats keys are translated back."""
    table = _make_column_mapped_table(spark, str(tmp_path))
    cat = DeltaCatalog("cm", table)
    df = cat.to_dataframe(spark)
    assert df.columns == ["team_name", "staff"]
    rows = {r.team_name: r.staff for r in df.collect()}
    assert rows == {"eng": 10, "ops": 5, "sci": 12}
    # stats translated to the logical namespace
    st = json.loads(next(iter(cat._add_stats.values())))
    assert "staff" in st["minValues"] and "col-bbb222" not in st["minValues"]


def test_column_mapped_partitioned_table(spark, tmp_path):
    """Partition values are keyed by PHYSICAL name in the log of a mapped
    table; they must attach (and prune) under the logical name."""
    table = _make_column_mapped_table(spark, str(tmp_path), partitioned=True)
    cat = DeltaCatalog("cm", table)
    df = cat.to_dataframe(spark)
    assert df.columns == ["team_name", "staff", "year"]
    assert {(r.team_name, r.year) for r in df.collect()} == {
        ("eng", "2020"),
        ("ops", "2020"),
        ("sci", "2021"),
    }
    pruned = cat.to_dataframe(spark, "year = '2021'")
    assert [(r.team_name, r.staff) for r in pruned.collect()] == [("sci", 12)]
    assert len(cat.pruned_files(spark, "year = '2021'")) == 1


def test_column_mapped_changes(spark, tmp_path):
    from buzz_rust_spark.sources import read_delta_changes

    table = _make_column_mapped_table(spark, str(tmp_path))
    ch = read_delta_changes(spark, table, from_version=-1)
    assert ch.columns == ["team_name", "staff", "_commit_version"]
    assert ch.count() == 3


def test_reader_v3_feature_gate(spark, tmp_path):
    """Reader 3 is accepted iff every readerFeature is implemented:
    columnMapping + deletionVectors + v2Checkpoint (round-10 lift) pass;
    an unimplemented feature is refused."""
    from buzz_rust_spark.errors import BuzzNotImplementedError

    table = _make_column_mapped_table(spark, str(tmp_path))
    log = os.path.join(table, "_delta_log")
    _write_commit(
        log,
        1,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["columnMapping", "deletionVectors"],
                    "writerFeatures": ["columnMapping"],
                }
            }
        ],
    )
    assert DeltaCatalog("cm", table).to_dataframe(spark).count() == 3
    _write_commit(
        log,
        2,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["columnMapping", "v2Checkpoint"],
                }
            }
        ],
    )
    # v2Checkpoint reads are implemented (round 10) — accepted
    assert DeltaCatalog("cm", table).to_dataframe(spark).count() == 3
    _write_commit(
        log,
        3,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["columnMapping", "mystFeature"],
                }
            }
        ],
    )
    with pytest.raises(BuzzNotImplementedError, match="mystFeature"):
        DeltaCatalog("cm", table)


def _make_id_mapped_table(root: str, partitioned: bool = False) -> str:
    """A columnMapping mode=id table: parquet files carry arbitrary
    physical names WITH parquet field ids; the log schema maps logical
    names to delta.columnMapping.id — resolution must go by id, not name."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = os.path.join(root, "delta-idmap")
    os.makedirs(table, exist_ok=True)
    rows_by_file = {
        "f1.parquet": [("eng", 10), ("ops", 5)],
        "f2.parquet": [("sci", 12)],
    }
    for i, (fname, rows) in enumerate(rows_by_file.items()):
        # each file uses DIFFERENT physical names — only the ids agree
        pn, ps = f"c{i}_name", f"c{i}_staff"
        schema = pa.schema(
            [
                pa.field(pn, pa.string(),
                         metadata={b"PARQUET:field_id": b"1"}),
                pa.field(ps, pa.int64(),
                         metadata={b"PARQUET:field_id": b"2"}),
            ]
        )
        pq.write_table(
            pa.table(
                {pn: pa.array([r[0] for r in rows], pa.string()),
                 ps: pa.array([r[1] for r in rows], pa.int64())},
                schema=schema,
            ),
            os.path.join(table, fname),
        )

    def field(name, typ, phys, fid):
        return {
            "name": name, "type": typ, "nullable": True,
            "metadata": {
                "delta.columnMapping.id": fid,
                "delta.columnMapping.physicalName": phys,
            },
        }

    fields = [
        field("team_name", "string", "c0_name", 1),
        field("staff", "long", "c0_staff", 2),
    ]
    if partitioned:
        fields.append(field("year", "string", "col-yyy", 3))
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "im1",
                "schemaString": json.dumps({"type": "struct", "fields": fields}),
                "partitionColumns": ["year"] if partitioned else [],
                "configuration": {
                    "delta.columnMapping.mode": "id",
                    "delta.columnMapping.maxColumnId": "3",
                },
                "format": {"provider": "parquet"},
            }
        },
    ]
    for i, fname in enumerate(rows_by_file):
        actions.append(
            {"add": {
                "path": fname, "size": 1, "dataChange": True,
                "partitionValues": {"col-yyy": f"202{i}"} if partitioned else {},
            }}
        )
    _write_commit(os.path.join(table, "_delta_log"), 0, actions)
    return table


def test_column_mapping_mode_id_reads_by_field_id(spark, tmp_path):
    """mode=id tables resolve parquet columns by field id — files whose
    physical names DIFFER file-to-file (only ids agree) must still read
    correctly under logical names."""
    table = _make_id_mapped_table(str(tmp_path))
    cat = DeltaCatalog("im", table)
    df = cat.to_dataframe(spark)
    assert df.columns == ["team_name", "staff"]
    assert {(r.team_name, r.staff) for r in df.collect()} == {
        ("eng", 10), ("ops", 5), ("sci", 12),
    }


def test_column_mapping_mode_id_partitioned(spark, tmp_path):
    """mode=id + partitions: partitionValues keys stay PHYSICAL in the log
    and must still attach/prune under the logical name."""
    table = _make_id_mapped_table(str(tmp_path), partitioned=True)
    cat = DeltaCatalog("im", table)
    df = cat.to_dataframe(spark)
    assert {(r.team_name, r.year) for r in df.collect()} == {
        ("eng", "2020"), ("ops", "2020"), ("sci", "2021"),
    }
    pruned = cat.to_dataframe(spark, "year = '2021'")
    assert [(r.team_name, r.staff) for r in pruned.collect()] == [("sci", 12)]


def test_column_mapping_unknown_mode_refused(spark, tmp_path):
    from buzz_rust_spark.errors import BuzzNotImplementedError

    table = _make_column_mapped_table(spark, str(tmp_path))
    log = os.path.join(table, "_delta_log")
    meta = json.loads(
        open(os.path.join(log, f"{0:020d}.json")).readlines()[1]
    )["metaData"]
    meta["configuration"]["delta.columnMapping.mode"] = "weird"
    _write_commit(log, 1, [{"metaData": meta}])
    with pytest.raises(BuzzNotImplementedError, match="mode='weird'"):
        DeltaCatalog("cm", table)
    # the writer refuses too: files staged under an unknown mode would be
    # unreadable, and a rewrite cannot resolve the existing ones
    from buzz_rust_spark.sources.delta_writer import delete_delta, write_delta

    rows = spark.createDataFrame([("fin", 7)], "team_name string, staff long")
    with pytest.raises(BuzzNotImplementedError, match="mode='weird'"):
        write_delta(rows, table)
    with pytest.raises(BuzzNotImplementedError, match="mode='weird'"):
        delete_delta(spark, table, "staff = 5")


def test_null_partition_value_is_sql_null(spark, tmp_path):
    """Delta serializes a null partition value as JSON null; it must attach
    as SQL NULL (r5 review: str(None) produced the literal string 'None',
    breaking IS NULL pruning and wrongly matching = 'None')."""
    table = os.path.join(str(tmp_path), "delta-nullpart")
    os.makedirs(table, exist_ok=True)
    _write_part(spark, os.path.join(table, "a.parquet"), [("eng", 10)])
    _write_part(spark, os.path.join(table, "b.parquet"), [("ops", 5)])
    _write_commit(
        os.path.join(table, "_delta_log"),
        0,
        [
            {
                "metaData": {
                    "id": "np1",
                    "schemaString": _schema_string(partitioned=True),
                    "partitionColumns": ["year"],
                    "format": {"provider": "parquet"},
                }
            },
            {"add": {"path": "a.parquet", "size": 1,
                     "partitionValues": {"year": "2020"}, "dataChange": True}},
            {"add": {"path": "b.parquet", "size": 1,
                     "partitionValues": {"year": None}, "dataChange": True}},
        ],
    )
    cat = DeltaCatalog("np", table)
    df = cat.to_dataframe(spark)
    vals = {r.dept_name: r.year for r in df.collect()}
    assert vals == {"eng": "2020", "ops": None}
    assert [r.dept_name for r in cat.to_dataframe(spark, "year IS NULL").collect()] == ["ops"]
    assert cat.to_dataframe(spark, "year = 'None'").count() == 0
    assert len(cat.pruned_files(spark, "year IS NOT NULL")) == 1


def test_snapshot_refuses_cleaned_log_gaps(spark, tmp_path):
    """Commits removed by log cleanup inside the replay range must raise,
    not silently drop their adds from the snapshot (r5 review)."""
    from buzz_rust_spark.sources import write_delta

    table = str(tmp_path / "tbl-gap")
    write_delta(spark.range(2).withColumnRenamed("id", "v"), table)
    write_delta(spark.range(2).withColumnRenamed("id", "v"), table, mode="append")
    write_delta(spark.range(2).withColumnRenamed("id", "v"), table, mode="append")
    assert DeltaCatalog("t", table).to_dataframe(spark).count() == 6
    os.remove(os.path.join(table, "_delta_log", f"{1:020d}.json"))
    with pytest.raises(BuzzExecutionError, match="missing commit"):
        DeltaCatalog("t", table)


def test_changes_refuses_cleaned_window_and_stale_cursor(spark, tmp_path):
    from buzz_rust_spark.sources import read_delta_changes, write_delta

    table = str(tmp_path / "tbl-chg")
    write_delta(spark.range(2).withColumnRenamed("id", "v"), table)
    write_delta(spark.range(2).withColumnRenamed("id", "v"), table, mode="append")
    write_delta(spark.range(2).withColumnRenamed("id", "v"), table, mode="append")
    assert read_delta_changes(spark, table, from_version=0).count() == 4
    # stale cursor beyond the table's history fails loudly
    with pytest.raises(BuzzExecutionError, match="beyond"):
        read_delta_changes(spark, table, from_version=50)
    # a cleaned commit inside the requested window fails loudly
    os.remove(os.path.join(table, "_delta_log", f"{1:020d}.json"))
    with pytest.raises(BuzzExecutionError, match="missing commit"):
        read_delta_changes(spark, table, from_version=0)


def test_multipart_checkpoint_falls_back_to_json_replay(spark, tmp_path):
    """A _last_checkpoint with parts > 1 must not read a single-file
    checkpoint name (silent action loss / raw FileNotFound); it falls back
    to full JSON replay, and the contiguity guard covers cleaned history."""
    from buzz_rust_spark.sources import write_delta

    table = str(tmp_path / "tbl-parts")
    write_delta(spark.range(3).withColumnRenamed("id", "v"), table)
    write_delta(spark.range(2).withColumnRenamed("id", "v"), table, mode="append")
    log = os.path.join(table, "_delta_log")
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        fh.write(json.dumps({"version": 1, "parts": 2}))
    # full JSON history still present → replay works
    assert DeltaCatalog("t", table).to_dataframe(spark).count() == 5


def test_write_delta_rejects_remote_uri(spark, tmp_path):
    from buzz_rust_spark.errors import BuzzBadRequestError
    from buzz_rust_spark.sources import write_delta

    with pytest.raises(BuzzBadRequestError, match="local file URIs only"):
        write_delta(spark.range(1), "s3://bucket/tbl")


def test_merge_updates_every_duplicate_key_row(spark, tmp_path):
    """Delta MERGE parity: duplicate-key target rows (legal via appends)
    each become one updated row — not collapsed to a single source row."""
    from buzz_rust_spark.sources import merge_delta, write_delta

    table = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], ["k", "v"])
    write_delta(df, table)
    src = spark.createDataFrame([(1, "NEW")], ["k", "v"])
    merge_delta(spark, table, src, on=["k"], when_matched="update",
                when_not_matched=None)
    rows = sorted(
        (r["k"], r["v"]) for r in DeltaCatalog("t", table).to_dataframe(spark).collect()
    )
    assert rows == [(1, "NEW"), (1, "NEW"), (2, "c")]


def test_read_delta_changes_empty_window_shape_matches(spark, tmp_path):
    """An empty change window returns the same column shape as a non-empty
    one (data cols + string partition cols + _commit_version)."""
    from buzz_rust_spark.sources import write_delta
    from buzz_rust_spark.sources.delta_catalog import read_delta_changes

    table = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "x")], ["v", "day"])
    write_delta(df, table, partition_by=["day"])
    write_delta(spark.createDataFrame([(2, "y")], ["v", "day"]), table,
                partition_by=["day"])
    nonempty = read_delta_changes(spark, table, from_version=0)
    empty = read_delta_changes(spark, table, from_version=1)
    assert empty.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in empty.schema.fields] == \
           [(f.name, f.dataType.simpleString()) for f in nonempty.schema.fields]


# --- writer-side schema evolution -----------------------------------------------


def test_delta_evolve_add_column(spark, tmp_path):
    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
    from buzz_rust_spark.sources.delta_writer import evolve_delta, write_delta

    root = str(tmp_path / "t")
    write_delta(spark.createDataFrame([(1, "a")], "id long, v string"), root)
    evolve_delta(root, add_columns={"score": "double"})
    write_delta(
        spark.createDataFrame([(2, "b", 0.5)],
                              "id long, v string, score double"),
        root,
    )
    got = {
        (r.id, r.v, r.score)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    }
    assert got == {(1, "a", None), (2, "b", 0.5)}


def test_delta_evolve_add_column_then_rewrite_ops(spark, tmp_path):
    """merge/delete over a table with pre-evolution files must resolve the
    added column as NULL (ADVICE repro: footer-inferred read schemas raised
    UNRESOLVED_COLUMN whenever a touched file predated the evolution)."""
    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
    from buzz_rust_spark.sources.delta_writer import (
        delete_delta,
        evolve_delta,
        merge_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), root
    )
    evolve_delta(root, add_columns={"score": "double"})
    write_delta(
        spark.createDataFrame(
            [(3, "c", 0.5)], "id long, v string, score double"
        ),
        root,
    )
    # merge touches the pre-evolution file (key 2) AND inserts key 4
    merge_delta(
        spark, root,
        spark.createDataFrame(
            [(2, "B", 2.0), (4, "d", 4.0)],
            "id long, v string, score double",
        ),
        on=["id"],
    )
    got = {
        (r.id, r.v, r.score)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    }
    assert got == {(1, "a", None), (2, "B", 2.0), (3, "c", 0.5), (4, "d", 4.0)}
    # delete with a predicate on the ADDED column: pre-evolution rows have
    # NULL score (no match), new rows match
    assert delete_delta(spark, root, "score > 1.0") is not None
    got = {
        (r.id, r.score)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    }
    assert got == {(1, None), (3, 0.5)}


def test_delta_evolve_rename_upgrades_to_name_mapping(spark, tmp_path):
    import json as _json
    import os as _os
    from glob import glob as _glob

    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
    from buzz_rust_spark.sources.delta_writer import evolve_delta, write_delta

    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, "a", "p0"), (2, "b", "p1")],
                              "id long, v string, par string"),
        root, partition_by=["par"],
    )
    evolve_delta(root, rename_columns={"v": "name", "par": "part"})
    cat = DeltaCatalog("t", root)
    # pre-rename files resolve through physicalName; partition col renamed
    assert cat.partition_cols == ["part"]
    got = {(r.id, r.name, r.part)
           for r in cat.to_dataframe(spark).collect()}
    assert got == {(1, "a", "p0"), (2, "b", "p1")}
    # appends write PHYSICAL names into files and partition dirs
    write_delta(
        spark.createDataFrame([(3, "c", "p1")],
                              "id long, name string, part string"),
        root, partition_by=["part"],
    )
    cat2 = DeltaCatalog("t", root)
    got = {(r.id, r.name, r.part)
           for r in cat2.to_dataframe(spark).collect()}
    assert got == {(1, "a", "p0"), (2, "b", "p1"), (3, "c", "p1")}
    # partition pruning by the NEW logical name
    assert sorted(
        r.id for r in cat2.to_dataframe(spark, "part = 'p1'").collect()
    ) == [2, 3]
    # the new add's partitionValues are keyed by the PHYSICAL name
    last = sorted(_glob(_os.path.join(root, "_delta_log", "*.json")))[-1]
    adds = [
        _json.loads(ln)["add"] for ln in open(last) if '"add"' in ln
    ]
    assert adds and all("par" in a["partitionValues"] for a in adds)


def test_delta_evolve_rename_then_rewrite_ops(spark, tmp_path):
    """mode=name rewrites are fully supported after a rename: delete (cow
    and dv), merge, and optimize all operate on LOGICAL columns while the
    files keep their physical names; id-mode rewrites stay typed refusals."""
    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
    from buzz_rust_spark.sources.delta_writer import (
        delete_delta,
        evolve_delta,
        merge_delta,
        optimize_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, f"r{i}", f"p{i % 2}") for i in range(8)],
            "id long, v string, par string",
        ),
        root, partition_by=["par"],
    )
    evolve_delta(root, rename_columns={"v": "name", "par": "part"})

    # copy-on-write DELETE by the NEW logical names
    assert delete_delta(spark, root, "id = 0 AND part = 'p0'") is not None
    got = {(r.id, r.name) for r in
           DeltaCatalog("t", root).to_dataframe(spark).collect()}
    assert got == {(i, f"r{i}") for i in range(1, 8)}

    # MERGE upsert by logical key
    merge_delta(
        spark, root,
        spark.createDataFrame([(1, "R1", "p1"), (9, "r9", "p1")],
                              "id long, name string, part string"),
        ["id"],
    )
    got = {(r.id, r.name) for r in
           DeltaCatalog("t", root).to_dataframe(spark).collect()}
    assert got == {(i, f"r{i}") for i in range(2, 8)} | {(1, "R1"), (9, "r9")}

    # DV delete + optimize purge
    assert delete_delta(spark, root, "id = 9", mode="dv") is not None
    got = {r.id for r in DeltaCatalog("t", root).to_dataframe(spark).collect()}
    assert got == set(range(1, 8))
    assert optimize_delta(spark, root, target_file_bytes=1 << 30) is not None
    cat = DeltaCatalog("t", root)
    got = {(r.id, r.name, r.part) for r in cat.to_dataframe(spark).collect()}
    assert got == {(1, "R1", "p1")} | {
        (i, f"r{i}", f"p{i % 2}") for i in range(2, 8)
    }
    # logical-name partition pruning still works after all rewrites
    assert {r.id for r in cat.to_dataframe(spark, "part = 'p0'").collect()} \
        == {2, 4, 6}


def test_delta_id_mode_rewrites_work(spark, tmp_path):
    """Round-10 lift of the mode=id rewrite refusal: an engine-written
    table hand-flipped to mode=id (physical == logical names, footers
    re-stamped with the mapping ids — the spec-conformant shape) takes a
    predicate delete, and the rewrite re-emits field ids."""
    import glob as _glob
    import json as _json
    import os as _os

    import pyarrow.parquet as _pq

    from buzz_rust_spark.sources.delta_writer import delete_delta, write_delta

    root = str(tmp_path / "t")
    write_delta(spark.createDataFrame([(1, "a")], "id long, v string"), root)
    # hand-flip the table to mode=id (external catalog shape)
    log = sorted(
        f for f in _os.listdir(_os.path.join(root, "_delta_log"))
        if f.endswith(".json")
    )[-1]
    lp = _os.path.join(root, "_delta_log", log)
    acts = [_json.loads(l) for l in open(lp) if l.strip()]
    for a in acts:
        if "metaData" in a:
            sch = _json.loads(a["metaData"]["schemaString"])
            for i, f in enumerate(sch["fields"], start=1):
                f["metadata"] = {
                    "delta.columnMapping.id": i,
                    "delta.columnMapping.physicalName": f["name"],
                }
            a["metaData"]["schemaString"] = _json.dumps(sch)
            a["metaData"]["configuration"] = {
                "delta.columnMapping.mode": "id",
                "delta.columnMapping.maxColumnId": "2",
            }
        if "protocol" in a:
            a["protocol"] = {"minReaderVersion": 2, "minWriterVersion": 5}
    open(lp, "w").write("".join(_json.dumps(a) + "\n" for a in acts))
    # make the files spec-conformant: id-mode data files MUST carry footer
    # field ids (the spec's contract; id-less footers are a corrupt table
    # and fail loudly at read time)
    import pyarrow as _pa

    for f in _glob.glob(_os.path.join(root, "*.parquet")):
        t = _pq.read_table(f)
        fields = [
            fld.with_metadata({b"PARQUET:field_id": str(i + 1).encode()})
            for i, fld in enumerate(t.schema)
        ]
        _pq.write_table(t.cast(_pa.schema(fields)), f)
    delete_delta(spark, root, "id = 1")
    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog as _DC

    assert _DC("t", root).to_dataframe(spark).count() == 0


def test_delta_evolve_validation(spark, tmp_path):
    from buzz_rust_spark.errors import BuzzBadRequestError
    from buzz_rust_spark.sources.delta_writer import evolve_delta, write_delta

    root = str(tmp_path / "t")
    write_delta(spark.createDataFrame([(1, "a")], "id long, v string"), root)
    with pytest.raises(BuzzBadRequestError, match="nothing to do"):
        evolve_delta(root)
    with pytest.raises(BuzzBadRequestError, match="already exists"):
        evolve_delta(root, add_columns={"v": "string"})
    with pytest.raises(BuzzBadRequestError, match="collides"):
        evolve_delta(root, rename_columns={"v": "id"})
    with pytest.raises(BuzzBadRequestError, match="not in the table"):
        evolve_delta(root, rename_columns={"zzz": "q"})
    with pytest.raises(BuzzBadRequestError, match="not supported"):
        evolve_delta(root, add_columns={"x": "map<string,int>"})


def test_dv_upgrade_preserves_column_mapping_protocol(spark, tmp_path):
    """A DV delete on a name-mapped table must upgrade to writer 7 WITH the
    columnMapping feature carried along — a bare DV protocol would strip
    the mapping capability and break physical-name readers."""
    import json as _json
    import os as _os
    from glob import glob as _glob

    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
    from buzz_rust_spark.sources.delta_writer import (
        delete_delta,
        evolve_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(spark.createDataFrame([(i, f"r{i}") for i in range(4)],
                                      "id long, v string"), root)
    evolve_delta(root, rename_columns={"v": "name"})
    assert delete_delta(spark, root, "id = 1", mode="dv") is not None
    # the last committed protocol lists BOTH features
    protos = []
    for f in sorted(_glob(_os.path.join(root, "_delta_log", "*.json"))):
        for ln in open(f):
            if ln.strip() and "protocol" in _json.loads(ln):
                protos.append(_json.loads(ln)["protocol"])
    last = protos[-1]
    assert last["minWriterVersion"] == 7
    assert set(last["writerFeatures"]) >= {"deletionVectors", "columnMapping"}
    assert set(last["readerFeatures"]) >= {"deletionVectors", "columnMapping"}
    # table still reads and appends after the upgrade
    got = {(r.id, r.name)
           for r in DeltaCatalog("t", root).to_dataframe(spark).collect()}
    assert got == {(0, "r0"), (2, "r2"), (3, "r3")}
    write_delta(spark.createDataFrame([(9, "r9")], "id long, name string"),
                root)
    assert (9, "r9") in {
        (r.id, r.name)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    }


def test_writer7_column_mapping_feature_accepted(spark, tmp_path):
    """Modern engines express column mapping as a writer-7 FEATURE; the
    gate must admit it like the legacy writer-5 form."""
    import json as _json
    import os as _os

    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
    from buzz_rust_spark.sources.delta_writer import evolve_delta, write_delta

    root = str(tmp_path / "t")
    write_delta(spark.createDataFrame([(1, "a")], "id long, v string"), root)
    evolve_delta(root, rename_columns={"v": "w"})
    # flip the upgrade commit's protocol to the writer-7 feature form
    lp = sorted(
        _os.path.join(root, "_delta_log", f)
        for f in _os.listdir(_os.path.join(root, "_delta_log"))
        if f.endswith(".json")
    )[-1]
    acts = [_json.loads(l) for l in open(lp) if l.strip()]
    for a in acts:
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["columnMapping"],
                "writerFeatures": ["columnMapping"],
            }
    open(lp, "w").write("".join(_json.dumps(a) + "\n" for a in acts))
    # writes and reads keep working
    write_delta(spark.createDataFrame([(2, "b")], "id long, w string"), root)
    got = {(r.id, r.w)
           for r in DeltaCatalog("t", root).to_dataframe(spark).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_delta_evolve_drop_column(spark, tmp_path):
    """DROP COLUMN upgrades to name mapping (Delta protocol requires it —
    raw-parquet readers would resurrect the column) and reads/appends keep
    working; partition columns refuse."""
    from buzz_rust_spark.errors import BuzzBadRequestError
    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
    from buzz_rust_spark.sources.delta_writer import evolve_delta, write_delta

    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, "a", 0.5)], "id long, v string, s double"),
        root,
    )
    evolve_delta(root, drop_columns=["s"])
    cat = DeltaCatalog("t", root)
    got = {(r.id, r.v) for r in cat.to_dataframe(spark).collect()}
    assert got == {(1, "a")} and set(cat.to_dataframe(spark).columns) == {"id", "v"}
    write_delta(spark.createDataFrame([(2, "b")], "id long, v string"), root)
    got = {(r.id, r.v)
           for r in DeltaCatalog("t", root).to_dataframe(spark).collect()}
    assert got == {(1, "a"), (2, "b")}
    p = str(tmp_path / "p")
    write_delta(spark.createDataFrame([(1, "x")], "id long, par string"), p,
                partition_by=["par"])
    with pytest.raises(BuzzBadRequestError, match="partition column"):
        evolve_delta(p, drop_columns=["par"])


# --- CDC changelog (retractions) ---------------------------------------------


def _apply_changelog(from_df, cl):
    ins = cl.where("_change_type = 'insert'").drop("_change_type")
    dels = cl.where("_change_type = 'delete'").drop("_change_type")
    return from_df.unionAll(ins).exceptAll(dels)


def _frames_equal(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_delta_changelog_append_merge_delete_dv(spark, tmp_path):
    """Oracle-style reconciliation across append → cow merge → cow delete
    → DV delete → optimize: applying the changelog to the from-version
    snapshot reaches exactly the to-version content, with NET output (the
    cow rewrite's survivors cancel instead of surfacing)."""
    from buzz_rust_spark.sources.delta_catalog import (
        DeltaCatalog,
        read_delta_changelog,
    )
    from buzz_rust_spark.sources.delta_writer import (
        delete_delta,
        merge_delta,
        optimize_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        ),
        root,
    )  # v0
    write_delta(
        spark.createDataFrame([(4, "d")], "id long, v string"), root
    )  # v1
    merge_delta(
        spark, root,
        spark.createDataFrame([(2, "B"), (5, "e")], "id long, v string"),
        on=["id"],
    )  # v2: cow rewrite retracts (2,'b')
    delete_delta(spark, root, "id = 3")  # v3: cow delete of pre-range row
    delete_delta(spark, root, "id = 1", mode="dv")  # v4: DV delete

    cl = read_delta_changelog(spark, root, 0)
    got = sorted((r.id, r.v, r._change_type) for r in cl.collect())
    assert got == [
        (1, "a", "delete"), (2, "B", "insert"), (2, "b", "delete"),
        (3, "c", "delete"), (4, "d", "insert"), (5, "e", "insert"),
    ]
    from_df = DeltaCatalog("t", root, version=0).to_dataframe(spark)
    to_df = DeltaCatalog("t", root).to_dataframe(spark)
    assert _frames_equal(_apply_changelog(from_df, cl), to_df)

    # with an optimize in range, reconciliation stays exact (rewritten
    # files cancel as delete+insert pairs)
    v = optimize_delta(spark, root, target_file_bytes=1 << 20)
    if v is not None:
        cl2 = read_delta_changelog(spark, root, 0)
        assert _frames_equal(
            _apply_changelog(from_df, cl2),
            DeltaCatalog("t", root).to_dataframe(spark),
        )


def test_delta_changelog_overwrite_and_partitions(spark, tmp_path):
    """Truncating overwrites (refused by the appends feed) are expressible
    as retractions; partition columns re-attach from the log."""
    from buzz_rust_spark.sources.delta_catalog import (
        DeltaCatalog,
        read_delta_changelog,
    )
    from buzz_rust_spark.sources.delta_writer import write_delta

    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(1, "p0"), (2, "p1")], "id long, par string"
        ),
        root, partition_by=["par"],
    )  # v0
    write_delta(
        spark.createDataFrame([(9, "p1")], "id long, par string"),
        root, mode="overwrite", partition_by=["par"],
    )  # v1: truncating overwrite
    cl = read_delta_changelog(spark, root, 0)
    assert sorted((r.id, r.par, r._change_type) for r in cl.collect()) == [
        (1, "p0", "delete"), (2, "p1", "delete"), (9, "p1", "insert"),
    ]
    from_df = DeltaCatalog("t", root, version=0).to_dataframe(spark)
    to_df = DeltaCatalog("t", root).to_dataframe(spark)
    assert _frames_equal(_apply_changelog(from_df, cl), to_df)


def test_delta_changelog_window_validation(spark, tmp_path):
    from buzz_rust_spark.errors import BuzzExecutionError
    from buzz_rust_spark.sources.delta_catalog import read_delta_changelog
    from buzz_rust_spark.sources.delta_writer import write_delta

    root = str(tmp_path / "t")
    write_delta(spark.createDataFrame([(1,)], "id long"), root)
    with pytest.raises(BuzzExecutionError, match="beyond"):
        read_delta_changelog(spark, root, 5)
    with pytest.raises(BuzzExecutionError, match="no version"):
        read_delta_changelog(spark, root, 0, to_version=7)
    # empty window: no rows, stable schema with _change_type
    cl = read_delta_changelog(spark, root, 0, to_version=0)
    assert cl.count() == 0 and cl.columns[-1] == "_change_type"
    # cleaned history below the window is a typed refusal (the net diff
    # replays full live states)
    write_delta(spark.createDataFrame([(2,)], "id long"), root)  # v1
    write_delta(spark.createDataFrame([(3,)], "id long"), root)  # v2
    os.unlink(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    with pytest.raises(BuzzExecutionError, match="missing commit"):
        read_delta_changelog(spark, root, 1)


def test_delta_evolve_promote_type_widening(spark, tmp_path):
    """integer→long / float→double / decimal growth widen metadata-only:
    the protocol gains the typeWidening feature, delta.typeChanges records
    the history, old+new files read back widened, and rewrites (merge/
    delete) keep working on the widened table."""
    import json as _json

    from buzz_rust_spark.errors import BuzzBadRequestError
    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
    from buzz_rust_spark.sources.delta_writer import (
        delete_delta,
        evolve_delta,
        merge_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, 10, 1.5)], "id long, n int, x float"),
        root,
    )
    v = evolve_delta(root, promote_columns={"n": "long", "x": "double"})
    # protocol: reader 3 / writer 7 with typeWidening
    last = open(os.path.join(root, "_delta_log", f"{v:020d}.json")).read()
    actions = [_json.loads(ln) for ln in last.splitlines() if ln.strip()]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto["minReaderVersion"] == 3
    assert "typeWidening" in proto["readerFeatures"]
    md = next(a["metaData"] for a in actions if "metaData" in a)
    fields = {f["name"]: f for f in _json.loads(md["schemaString"])["fields"]}
    assert fields["n"]["type"] == "long"
    changes = fields["n"]["metadata"]["delta.typeChanges"]
    assert changes[0]["fromType"] == "integer" and changes[0]["toType"] == "long"

    write_delta(
        spark.createDataFrame(
            [(2, 2**40, 2.5)], "id long, n long, x double"
        ),
        root,
    )
    got = sorted(
        (r.id, r.n, float(r.x))
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == [(1, 10, 1.5), (2, 2**40, 2.5)]
    # rewrites on the widened table: merge touches the pre-promotion file
    merge_delta(
        spark, root,
        spark.createDataFrame([(1, 2**41, 9.0)], "id long, n long, x double"),
        on=["id"],
    )
    assert delete_delta(spark, root, f"n > {2**40}") is not None
    got = sorted(
        (r.id, r.n)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == [(2, 2**40)]
    # illegal promotions refuse typed
    with pytest.raises(BuzzBadRequestError):
        evolve_delta(root, promote_columns={"id": "double"})
    with pytest.raises(BuzzBadRequestError):
        evolve_delta(root, promote_columns={"n": "integer"})


def test_restore_delta_round_trip(spark, tmp_path):
    """RESTORE TO VERSION: one commit flips the snapshot back (DV entries
    re-added verbatim), interim versions stay time-travelable, a no-op
    restore returns None, and a vacuumed target refuses typed."""
    from buzz_rust_spark.errors import (
        BuzzBadRequestError,
        BuzzExecutionError,
    )
    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
    from buzz_rust_spark.sources.delta_writer import (
        delete_delta,
        merge_delta,
        restore_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), root
    )  # v0
    merge_delta(
        spark, root,
        spark.createDataFrame([(1, "A"), (3, "c")], "id long, v string"),
        on=["id"],
    )  # v1
    delete_delta(spark, root, "id = 2", mode="dv")  # v2
    assert restore_delta(spark, root, 0) == 3
    got = sorted(
        (r.id, r.v) for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == [(1, "a"), (2, "b")]
    # interim DV version still travels; same-content restore is a no-op
    assert sorted(
        (r.id, r.v)
        for r in DeltaCatalog("t", root, version=2).to_dataframe(spark).collect()
    ) == [(1, "A"), (3, "c")]
    assert restore_delta(spark, root, 0) is None
    # restore FORWARD to the DV state works too (it's just a diff)
    assert restore_delta(spark, root, 2) == 4
    assert sorted(
        (r.id, r.v) for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    ) == [(1, "A"), (3, "c")]
    with pytest.raises(BuzzBadRequestError, match="no version"):
        restore_delta(spark, root, 99)
    # vacuumed target refuses: delete the v0-only file then restore to v0
    import glob as _glob
    import json as _json

    v0_adds = [
        _json.loads(ln)["add"]["path"]
        for ln in open(os.path.join(root, "_delta_log", f"{0:020d}.json"))
        if '"add"' in ln
    ]
    gone = [
        p for p in v0_adds
        if os.path.exists(os.path.join(root, p))
    ]
    # remove a v0 file not in the current (v2-restored) snapshot
    live_now = set()
    for f in sorted(_glob.glob(os.path.join(root, "_delta_log", "*.json"))):
        for ln in open(f):
            if not ln.strip():
                continue
            a = _json.loads(ln)
            if "add" in a:
                live_now.add(a["add"]["path"])
            elif "remove" in a:
                live_now.discard(a["remove"]["path"])
    victim = next(p for p in gone if p not in live_now)
    os.unlink(os.path.join(root, victim))
    with pytest.raises(BuzzExecutionError, match="vacuumed"):
        restore_delta(spark, root, 0)


def test_restore_aborts_on_concurrent_append(spark, tmp_path):
    """A concurrent APPEND invalidates a restore's computed diff — the
    retry must abort typed, never commit a snapshot that is the target
    version plus a stray file."""
    from buzz_rust_spark.errors import BuzzCommitAbortedError
    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
    from buzz_rust_spark.sources.delta_writer import restore_delta, write_delta
    from buzz_rust_spark.sources.write_store import LocalCommitStore

    root = str(tmp_path / "t")
    write_delta(spark.createDataFrame([(1,)], "id long"), root)  # v0
    write_delta(spark.createDataFrame([(2,)], "id long"), root)  # v1
    store = LocalCommitStore()
    fired = {}

    def seam(path):
        if not fired:
            fired["x"] = 1
            write_delta(spark.createDataFrame([(9,)], "id long"), root)

    store.before_claim = seam
    with pytest.raises(BuzzCommitAbortedError):
        restore_delta(spark, root, 0, store=store)
    # nothing lost: the concurrent append survived, no partial restore
    assert sorted(
        r.id for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    ) == [1, 2, 9]


def test_restore_refuses_vacuumed_dv_sidecar(spark, tmp_path):
    """Restoring to a version whose DV SIDECAR was vacuumed must refuse
    typed — committing the descriptor would crash later reads raw."""
    from glob import glob as _glob

    from buzz_rust_spark.errors import BuzzExecutionError
    from buzz_rust_spark.sources.delta_writer import (
        delete_delta,
        restore_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(i,) for i in range(4)], "id long").coalesce(1),
        root,
    )  # v0
    delete_delta(spark, root, "id = 0", mode="dv")  # v1: DV sidecar S
    restore_delta(spark, root, 0)  # v2: S now unreferenced
    for s in _glob(os.path.join(root, "deletion_vector_*.bin")):
        os.unlink(s)  # what vacuum_delta would reclaim
    with pytest.raises(BuzzExecutionError, match="vacuumed"):
        restore_delta(spark, root, 1)


def test_restore_keeps_dv_protocol_and_checkpoint_carries_it(
    spark, tmp_path
):
    """Review regression: restore_delta replays the table AS OF the target
    version too, but that historical protocol must not leak into the
    table state — after restoring a deletion-vector table to its
    pre-upgrade version the replayed protocol still carries reader 3 and
    ``deletionVectors``, and so does the next checkpoint (one written from
    reader1/writer2 would let feature-unaware readers resurrect deleted
    rows)."""
    import pyarrow.parquet as pq

    from buzz_rust_spark.sources.delta_catalog import replay_log
    from buzz_rust_spark.sources.delta_writer import (
        delete_delta,
        restore_delta,
        write_delta,
    )
    from buzz_rust_spark.sources.logstore import LogStore

    root = str(tmp_path / "t")
    log_dir = os.path.join(root, "_delta_log")
    write_delta(
        spark.createDataFrame([(i,) for i in range(4)], "id long").coalesce(1),
        root,
    )  # v0 (protocol 1/2)
    delete_delta(spark, root, "id = 0", mode="dv")  # v1: upgrade to 3/7
    # v2, bounded replay to v0 inside; the next commit is v3, checkpointed
    assert restore_delta(spark, root, 0, checkpoint_interval=4) == 2
    proto = replay_log(LogStore(root)).protocol
    assert int(proto.get("minReaderVersion", 1)) == 3
    assert "deletionVectors" in (proto.get("writerFeatures") or [])
    assert write_delta(
        spark.createDataFrame([(9,)], "id long"), root, mode="append",
        checkpoint_interval=4,
    ) == 3
    cp = pq.read_table(
        os.path.join(log_dir, f"{3:020d}.checkpoint.parquet")
    ).to_pylist()
    (cp_proto,) = [r["protocol"] for r in cp if r.get("protocol")]
    assert cp_proto["minReaderVersion"] == 3
    assert "deletionVectors" in cp_proto["writerFeatures"]


def test_restore_delta_restores_metadata(spark, tmp_path):
    """Advice regression: RESTORE to a pre-schema-evolution version must
    re-commit that version's metaData too (Delta's RESTORE restores
    schema/configuration, not just files) — the evolved column must be
    GONE from the restored snapshot while interim time travel keeps it."""
    import json as _json

    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
    from buzz_rust_spark.sources.delta_writer import (
        evolve_delta,
        restore_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, "a")], "id long, v string"), root
    )  # v0
    evolve_delta(root, add_columns={"w": "double"})  # v1: metadata-only
    write_delta(
        spark.createDataFrame(
            [(2, "b", 2.5)], "id long, v string, w double"
        ),
        root, mode="append",
    )  # v2
    assert restore_delta(spark, root, 0) == 3
    cat = DeltaCatalog("t", root)
    assert [f.name for f in cat.schema.fields] == ["id", "v"]
    got = sorted(
        (r.id, r.v) for r in cat.to_dataframe(spark).collect()
    )
    assert got == [(1, "a")]
    # the restore commit itself carries the restored metaData action
    last = os.path.join(root, "_delta_log", f"{3:020d}.json")
    metas = [
        _json.loads(ln)["metaData"]
        for ln in open(last)
        if '"metaData"' in ln
    ]
    assert len(metas) == 1
    assert "w" not in metas[0]["schemaString"]
    # interim evolved version still time-travels with the added column
    tv = DeltaCatalog("t", root, version=2)
    assert [f.name for f in tv.schema.fields] == ["id", "v", "w"]
    # a metadata-ONLY divergence (same files) is still a restorable diff:
    # restore forward to v2 brings the evolved schema and its file back
    assert restore_delta(spark, root, 2) == 4
    cat2 = DeltaCatalog("t", root)
    assert [f.name for f in cat2.schema.fields] == ["id", "v", "w"]
    assert restore_delta(spark, root, 2) is None  # settled: no-op


def test_stats_filter_prunes_scan_files_and_stays_exact(spark, tmp_path):
    """DeltaCatalog.to_dataframe(stats_filter=...): after OPTIMIZE
    ZORDER the band predicate scans fewer files (DataFrame.inputFiles)
    with exactly the where() rows; on a DV-carrying table the pruning
    composes with the deletion-vector anti-join without resurrecting or
    losing rows."""
    from buzz_rust_spark.sources import delete_delta, optimize_delta, write_delta

    table = str(tmp_path / "t")
    rows = [(i, float(i % 100), float((i * 37) % 100)) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    write_delta(df.repartition(4), table)
    optimize_delta(spark, table, target_file_bytes=4096, zorder_by=["x", "y"])

    cat = DeltaCatalog("t", table)
    full = cat.to_dataframe(spark)
    expect = sorted(
        (r.id, r.x, r.y) for r in full.where("x < 10.0").collect()
    )
    filt = cat.to_dataframe(spark, stats_filter="x < 10.0")
    assert len(filt.inputFiles()) < len(full.inputFiles())
    assert sorted((r.id, r.x, r.y) for r in filt.collect()) == expect

    # DV interplay: delete some matching rows via deletion vectors, then
    # the stats-filtered read equals the where() read on the DV snapshot
    delete_delta(spark, table, "id % 3 = 0 AND x < 20.0", mode="dv")
    cat2 = DeltaCatalog("t", table)
    expect2 = sorted(
        r.id for r in cat2.to_dataframe(spark).where("x < 10.0").collect()
    )
    got2 = sorted(
        r.id
        for r in cat2.to_dataframe(spark, stats_filter="x < 10.0").collect()
    )
    assert got2 == expect2 and len(got2) < len(expect)


def test_id_mode_rewrites_survive_merge_delete_optimize(spark, tmp_path):
    """Round-10 lift: a columnMapping.mode=id table (external fixture with
    per-file physical names, ids agreeing) survives merge + delete +
    optimize — every staged/compacted file re-stamps parquet field ids,
    and field-id reads stay exact throughout."""
    import glob as globmod

    import pyarrow.parquet as pq

    from buzz_rust_spark.sources.delta_writer import (
        delete_delta,
        merge_delta,
        optimize_delta,
    )

    table = _make_id_mapped_table(str(tmp_path))

    def state():
        return sorted(
            (r.team_name, r.staff)
            for r in DeltaCatalog("cm", table).to_dataframe(spark).collect()
        )

    assert state() == [("eng", 10), ("ops", 5), ("sci", 12)]
    # merge: update one key, insert one
    merge_delta(
        spark, table,
        spark.createDataFrame(
            [("eng", 99), ("hr", 3)], "team_name string, staff long"
        ).coalesce(1),
        on=["team_name"],
    )
    assert state() == [("eng", 99), ("hr", 3), ("ops", 5), ("sci", 12)]
    # delete by predicate
    delete_delta(spark, table, "staff = 5")
    assert state() == [("eng", 99), ("hr", 3), ("sci", 12)]
    # compaction purges DVs / coalesces — reads stay id-resolved
    optimize_delta(spark, table, target_file_bytes=1 << 30)
    assert state() == [("eng", 99), ("hr", 3), ("sci", 12)]
    # every live parquet file footer carries the mapping's field ids
    import json as jsonmod
    import os as osmod

    log = osmod.path.join(table, "_delta_log")
    live = set()
    for cf in sorted(globmod.glob(osmod.path.join(log, "*.json"))):
        for line in open(cf):
            a = jsonmod.loads(line)
            if "add" in a:
                live.add(a["add"]["path"])
            if "remove" in a:
                live.discard(a["remove"]["path"])
    assert live
    for rel in live:
        sch = pq.read_schema(osmod.path.join(table, rel))
        ids = {
            f.metadata.get(b"PARQUET:field_id")
            for f in sch
            if f.metadata
        }
        assert {b"1", b"2"} <= ids, f"{rel} lost field ids: {sch}"


def test_id_mode_optimize_keeps_partition_column_out_of_files(
    spark, tmp_path
):
    """OPTIMIZE on a partitioned mode=id table whose partition column's
    physical name (``col-yyy``) differs from its logical one (``year``):
    the rows stay the same and no compacted file holds the partition
    column — its values ride the add actions."""
    import pyarrow.parquet as pq

    from buzz_rust_spark.sources.delta_writer import optimize_delta, write_delta

    table = _make_id_mapped_table(str(tmp_path), partitioned=True)
    write_delta(
        spark.createDataFrame(
            [("fin", 7, "2020"), ("hr", 3, "2021")],
            "team_name string, staff long, year string",
        ),
        table,
        partition_by=["year"],
    )

    def state():
        return sorted(
            (r.team_name, r.staff, r.year)
            for r in DeltaCatalog("im", table).to_dataframe(spark).collect()
        )

    before = state()
    assert before == [
        ("eng", 10, "2020"), ("fin", 7, "2020"), ("hr", 3, "2021"),
        ("ops", 5, "2020"), ("sci", 12, "2021"),
    ]
    v = optimize_delta(spark, table, target_file_bytes=1 << 30)
    assert v is not None
    assert state() == before
    commit = [
        json.loads(line)
        for line in open(os.path.join(table, "_delta_log", f"{v:020d}.json"))
    ]
    adds = [a["add"] for a in commit if "add" in a]
    assert {a["partitionValues"]["col-yyy"] for a in adds} == {"2020", "2021"}
    for add in adds:
        names = pq.read_schema(os.path.join(table, add["path"])).names
        assert not {"year", "col-yyy"} & set(names), names


def test_id_mode_nested_rewrite_refused(spark, tmp_path):
    """Round-11 narrowed the nested id-mode refusal: rewrites now re-emit
    inner field ids via the pyarrow post-pass, so the only remaining
    refusal is a schemaString whose NESTED field LACKS a mapping id —
    the post-pass would have to invent one."""
    import json as jsonmod
    import os as osmod

    from buzz_rust_spark.errors import BuzzNotImplementedError
    from buzz_rust_spark.sources.delta_writer import delete_delta

    table = osmod.path.join(str(tmp_path), "delta-idnested")
    osmod.makedirs(table, exist_ok=True)
    fields = [
        {
            "name": "k", "type": "long", "nullable": True,
            "metadata": {
                "delta.columnMapping.id": 1,
                "delta.columnMapping.physicalName": "c_k",
            },
        },
        {
            "name": "payload",
            "type": {
                "type": "struct",
                "fields": [
                    {"name": "x", "type": "long", "nullable": True,
                     "metadata": {"delta.columnMapping.physicalName": "c_x"}},
                ],
            },
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": 2,
                "delta.columnMapping.physicalName": "c_p",
            },
        },
    ]
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "in1",
                "schemaString": jsonmod.dumps(
                    {"type": "struct", "fields": fields}
                ),
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": "id",
                    "delta.columnMapping.maxColumnId": "3",
                },
                "format": {"provider": "parquet"},
            }
        },
    ]
    _write_commit(osmod.path.join(table, "_delta_log"), 0, actions)
    with pytest.raises(BuzzNotImplementedError, match="no delta.columnMapping.id"):
        delete_delta(spark, table, "k = 1")


# --- V2 checkpoints (round 10): UUID manifests + sidecars ---------------------


def _v2_fixture_base(spark, tmp_path):
    """A 3-commit table (v0 create+2 rows, v1 append, v2 append) written by
    this engine — the v2-checkpoint tests then checkpoint it by hand."""
    from buzz_rust_spark.sources.delta_writer import write_delta

    def rows(data):
        return spark.createDataFrame(data, "id long, v string")

    root = str(tmp_path / "t")
    write_delta(rows([(1, "a"), (2, "b")]), root)
    write_delta(rows([(3, "c")]), root, mode="append")
    write_delta(rows([(4, "d")]), root, mode="append")
    return root


def _live_adds_and_meta(root):
    import glob as _g

    live, meta, proto = {}, None, None
    for cf in sorted(_g.glob(os.path.join(root, "_delta_log", "*.json"))):
        for line in open(cf):
            a = json.loads(line)
            if "add" in a:
                live[a["add"]["path"]] = a["add"]
            if "remove" in a:
                live.pop(a["remove"]["path"], None)
            if "metaData" in a:
                meta = a["metaData"]
            if "protocol" in a:
                proto = a["protocol"]
    return live, meta, proto


def _actions_table(actions):
    """pyarrow table with a UNIFIED action schema (from_pylist alone infers
    from the first row only); empty-dict values become None (parquet
    refuses zero-field structs)."""
    import pyarrow as pa

    def scrub(v):
        if isinstance(v, dict):
            out = {k: scrub(x) for k, x in v.items()}
            out = {k: x for k, x in out.items() if x is not None}
            return out or None
        return v

    keys = sorted({k for a in actions for k in a})
    rows = [{k: (scrub(a) or {}).get(k) for k in keys} for a in actions]
    return pa.Table.from_pylist(rows)


def _write_v2_checkpoint(root, version, manifest_fmt="parquet",
                         inline=False, stamp_version=None):
    """Hand-write a spec-shaped V2 checkpoint at ``version``: UUID-named
    manifest (+ a _sidecars parquet holding the adds unless ``inline``),
    plus _last_checkpoint."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    live, meta, proto = _live_adds_and_meta(root)
    log = os.path.join(root, "_delta_log")
    u = str(_uuid.uuid4())
    adds = [
        {k: v for k, v in a.items() if k != "partitionValues"}
        for a in live.values()
    ]
    file_actions = [{"add": a} for a in adds]
    cpm = {"checkpointMetadata": {
        "version": version if stamp_version is None else stamp_version
    }}
    base = [{"protocol": proto}, {"metaData": meta}, cpm]
    sidecars = []
    if not inline:
        scdir = os.path.join(log, "_sidecars")
        os.makedirs(scdir, exist_ok=True)
        scname = f"{_uuid.uuid4()}.parquet"
        pq.write_table(
            _actions_table([{"add": a} for a in adds]),
            os.path.join(scdir, scname),
        )
        sz = os.path.getsize(os.path.join(scdir, scname))
        sidecars = [{"sidecar": {"path": scname, "sizeInBytes": sz}}]
        file_actions = []
    actions = base + sidecars + file_actions
    mname = f"{version:020d}.checkpoint.{u}.{manifest_fmt}"
    if manifest_fmt == "json":
        with open(os.path.join(log, mname), "w") as fh:
            fh.write("".join(json.dumps(a) + "\n" for a in actions))
    else:
        pq.write_table(_actions_table(actions), os.path.join(log, mname))
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": version}, fh)


def _drop_commits_below(root, version):
    import glob as _g

    for cf in _g.glob(os.path.join(root, "_delta_log", "*.json")):
        stem = os.path.basename(cf).split(".", 1)[0]
        if os.path.basename(cf) == f"{stem}.json" and int(stem) < version:
            os.remove(cf)


def test_v2_checkpoint_with_sidecar_reads(spark, tmp_path):
    """A V2 checkpoint (UUID parquet manifest + _sidecars file actions)
    reads correctly even after the covered JSON commits are cleaned —
    proof the checkpoint, not the log replay, produced the snapshot."""
    root = _v2_fixture_base(spark, tmp_path)
    want = sorted(
        (r.id, r.v)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    _write_v2_checkpoint(root, 2)
    _drop_commits_below(root, 2)
    got = sorted(
        (r.id, r.v)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == want
    # append after the checkpoint still lands on top
    from buzz_rust_spark.sources.delta_writer import write_delta

    write_delta(
        spark.createDataFrame([(5, "e")], "id long, v string"),
        root, mode="append",
    )
    got2 = sorted(
        (r.id, r.v)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got2 == sorted(want + [(5, "e")])


def test_v2_checkpoint_json_manifest_inline_actions(spark, tmp_path):
    """JSON-manifest V2 checkpoint with INLINED file actions (no
    sidecars); and the manifest's N.checkpoint.<uuid>.json name must NOT
    be replayed as commit N (exact-name commit listing)."""
    root = _v2_fixture_base(spark, tmp_path)
    want = sorted(
        (r.id, r.v)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    _write_v2_checkpoint(root, 2, manifest_fmt="json", inline=True)
    # ALL json commits still present: a doubled replay of the manifest
    # as "commit 2" would not change counts here (adds are idempotent by
    # path), so ALSO check with the covered commits dropped
    assert sorted(
        (r.id, r.v)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    ) == want
    _drop_commits_below(root, 2)
    assert sorted(
        (r.id, r.v)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    ) == want


def test_v2_checkpoint_version_mismatch_refused(spark, tmp_path):
    from buzz_rust_spark.errors import BuzzExecutionError

    root = _v2_fixture_base(spark, tmp_path)
    _write_v2_checkpoint(root, 2, stamp_version=1)
    with pytest.raises(BuzzExecutionError, match="checkpointMetadata"):
        DeltaCatalog("t", root)


def test_multipart_classic_checkpoint_reads(spark, tmp_path):
    """A complete classic multi-part checkpoint now READS (previously a
    silent fallback to full JSON replay, which errors once the covered
    commits are cleaned)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = _v2_fixture_base(spark, tmp_path)
    want = sorted(
        (r.id, r.v)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    live, meta, proto = _live_adds_and_meta(root)
    log = os.path.join(root, "_delta_log")
    adds = [
        {k: v for k, v in a.items() if k != "partitionValues"}
        for a in live.values()
    ]
    part1 = [{"protocol": proto}, {"metaData": meta}, {"add": adds[0]}]
    part2 = [{"add": a} for a in adds[1:]]
    pq.write_table(
        _actions_table(part1),
        os.path.join(log, f"{2:020d}.checkpoint.{1:010d}.{2:010d}.parquet"),
    )
    pq.write_table(
        _actions_table(part2),
        os.path.join(log, f"{2:020d}.checkpoint.{2:010d}.{2:010d}.parquet"),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 2, "parts": 2}, fh)
    _drop_commits_below(root, 2)
    got = sorted(
        (r.id, r.v)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == want


def test_incomplete_multipart_checkpoint_falls_back_typed(spark, tmp_path):
    """An INCOMPLETE multi-part set (part 2 of 2 missing) must not read a
    partial snapshot: the resolver rejects it, and the JSON fallback's
    contiguity check raises typed once covered commits are cleaned."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from buzz_rust_spark.errors import BuzzExecutionError

    root = _v2_fixture_base(spark, tmp_path)
    live, meta, proto = _live_adds_and_meta(root)
    log = os.path.join(root, "_delta_log")
    part1 = [{"protocol": proto}, {"metaData": meta}]
    pq.write_table(
        _actions_table(part1),
        os.path.join(log, f"{2:020d}.checkpoint.{1:010d}.{2:010d}.parquet"),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 2, "parts": 2}, fh)
    _drop_commits_below(root, 2)
    with pytest.raises(BuzzExecutionError, match="missing commit"):
        DeltaCatalog("t", root)


def test_v2_checkpoint_table_is_writable_without_classic_checkpoints(
    spark, tmp_path
):
    """Writes to a v2Checkpoint-feature table work (commits are plain
    actions); checkpoints there are emitted in the spec-V2 FORM (UUID
    manifest + _sidecars) and NEVER as a classic single file — and the
    table reads back from its own v2 checkpoint once the covered
    commits are cleaned."""
    import glob as _g

    from buzz_rust_spark.sources.delta_writer import (
        delete_delta,
        merge_delta,
        write_delta,
    )

    root = _v2_fixture_base(spark, tmp_path)
    log = os.path.join(root, "_delta_log")
    # flip the protocol to the v2Checkpoint feature form
    _write_commit(
        log,
        3,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["v2Checkpoint"],
                    "writerFeatures": ["v2Checkpoint"],
                }
            }
        ],
    )
    # checkpoint_interval=1 would checkpoint EVERY commit on a plain table
    write_delta(
        spark.createDataFrame([(9, "z")], "id long, v string"),
        root, mode="append", checkpoint_interval=1,
    )
    merge_delta(
        spark, root,
        spark.createDataFrame([(9, "Z"), (10, "y")], "id long, v string")
        .coalesce(1),
        on=["id"], checkpoint_interval=1,
    )
    delete_delta(spark, root, "id = 1", checkpoint_interval=1)
    got = sorted(
        (r.id, r.v)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == [(2, "b"), (3, "c"), (4, "d"), (9, "Z"), (10, "y")]
    import re as _re

    classic = [
        n for n in os.listdir(log)
        if _re.fullmatch(r"\d{20}\.checkpoint\.parquet", n)
    ]
    assert not classic, "classic checkpoint emitted on a v2Checkpoint table"
    v2s = [
        n for n in os.listdir(log)
        if _re.fullmatch(r"\d{20}\.checkpoint\.[^.]+\.parquet", n)
    ]
    assert v2s, "no V2 checkpoint emitted at checkpoint_interval=1"
    assert _g.glob(os.path.join(log, "_sidecars", "*.parquet"))
    assert os.path.exists(os.path.join(log, "_last_checkpoint"))
    # the table reads back from its OWN v2 checkpoint
    last = json.loads(open(os.path.join(log, "_last_checkpoint")).read())
    for n in os.listdir(log):
        stem = n.split(".", 1)[0]
        if n == f"{stem}.json" and int(stem) < last["version"]:
            os.remove(os.path.join(log, n))
    got2 = sorted(
        (r.id, r.v)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got2 == got


def test_checkpoint_discovery_without_pointer(spark, tmp_path):
    """_last_checkpoint is a HINT, not the source of truth: a checkpoint
    left unadvertised (crash between checkpoint and pointer write) is
    discovered from the log listing — the snapshot still reads after the
    covered commits are cleaned; time travel BELOW the checkpoint still
    replays JSON and refuses typed when those commits are gone."""
    from buzz_rust_spark.errors import BuzzExecutionError

    root = _v2_fixture_base(spark, tmp_path)
    want = sorted(
        (r.id, r.v)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    _write_v2_checkpoint(root, 2)
    log = os.path.join(root, "_delta_log")
    os.remove(os.path.join(log, "_last_checkpoint"))
    _drop_commits_below(root, 2)
    got = sorted(
        (r.id, r.v)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == want
    with pytest.raises(
        BuzzExecutionError, match="missing commit|has no version"
    ):
        DeltaCatalog("t", root, version=1)


# --- add_files_delta (CONVERT-TO-DELTA-style registration) --------------------


def _loose_pq(spark, path, rows, schema):
    import glob as _g
    import shutil

    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path + ".dir")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    shutil.move(_g.glob(path + ".dir/part-*.parquet")[0], path)
    shutil.rmtree(path + ".dir")
    return path


def test_add_files_delta_unpartitioned_external(spark, tmp_path):
    from buzz_rust_spark.errors import BuzzBadRequestError
    from buzz_rust_spark.sources.delta_writer import (
        add_files_delta,
        delete_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, "a")], "id long, v string"), root
    )
    ext = _loose_pq(
        spark, str(tmp_path / "elsewhere" / "ext.parquet"),
        [(2, "b"), (3, "c")], "id long, v string",
    )
    v = add_files_delta(spark, root, [ext])
    assert v == 1
    got = sorted(
        (r.id, r.v)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # registered by ABSOLUTE path, file not copied
    acts = [
        json.loads(l)
        for l in open(os.path.join(root, "_delta_log",
                                   f"{1:020d}.json"))
    ]
    add = next(a["add"] for a in acts if "add" in a)
    assert add["path"].startswith("/") and os.path.exists(ext)
    assert json.loads(add["stats"])["numRecords"] == 2
    # a LIVE path refuses re-registration
    with pytest.raises(BuzzBadRequestError, match="already referenced"):
        add_files_delta(spark, root, [ext])
    # deletes work over the registered file (cow rewrites it in-table,
    # leaving the external original untouched on disk)
    delete_delta(spark, root, "id = 2")
    got = sorted(
        r.id for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == [1, 3]
    assert os.path.exists(ext)


def test_add_files_delta_partitioned_hive_layout(spark, tmp_path):
    from buzz_rust_spark.errors import BuzzBadRequestError
    from buzz_rust_spark.sources.delta_writer import (
        add_files_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, "a", "2020")], "id long, v string, y string"),
        root, partition_by=["y"],
    )
    # hive-layout file INSIDE the table root (data columns only)
    inpath = _loose_pq(
        spark, os.path.join(root, "y=2021", "legacy.parquet"),
        [(2, "b"), (3, "c")], "id long, v string",
    )
    v = add_files_delta(spark, root, [inpath])
    assert v == 1
    got = sorted(
        (r.id, r.y)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == [(1, "2020"), (2, "2021"), (3, "2021")]
    # partition pruning sees the derived value
    cat = DeltaCatalog("t", root)
    pruned = [
        f for f in cat.files if dict(f.partitions).get("y") == "2021"
    ]
    assert len(pruned) == 1
    # guards: a file with neither a hive segment nor the partition column
    # physically present cannot derive its partition value (external or
    # in-table flat alike)
    ext = _loose_pq(
        spark, str(tmp_path / "x" / "e.parquet"), [(9, "z")],
        "id long, v string",
    )
    with pytest.raises(BuzzBadRequestError, match="neither a hive"):
        add_files_delta(spark, root, [ext])
    flat = _loose_pq(
        spark, os.path.join(root, "flat.parquet"), [(9, "z")],
        "id long, v string",
    )
    with pytest.raises(BuzzBadRequestError, match="neither a hive"):
        add_files_delta(spark, root, [flat])


def test_add_files_delta_partitioned_external_footer_stats(spark, tmp_path):
    """External (and in-table flat) files on a PARTITIONED table register
    via footer-stats partition derivation — the round-11 verdict ask #5:
    partition-pure files (min == max, no nulls) that physically CONTAIN
    the partition column onboard without the hive-layout requirement;
    pruning, snapshot reads, and rewrites over them keep working."""
    from buzz_rust_spark.errors import BuzzBadRequestError
    from buzz_rust_spark.sources.delta_writer import (
        add_files_delta,
        delete_delta,
        merge_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(1, "a", "2020")], "id long, v string, y string"
        ),
        root, partition_by=["y"],
    )
    # two external partition-pure files carrying y physically
    e21 = _loose_pq(
        spark, str(tmp_path / "x" / "e21.parquet"),
        [(2, "b", "2021"), (3, "c", "2021")], "id long, v string, y string",
    )
    e22 = _loose_pq(
        spark, str(tmp_path / "x" / "e22.parquet"),
        [(4, "d", "2022")], "id long, v string, y string",
    )
    v = add_files_delta(spark, root, [e21, e22])
    assert v == 1
    cat = DeltaCatalog("t", root)
    got = sorted(
        (r.id, r.v, r.y) for r in cat.to_dataframe(spark).collect()
    )
    assert got == [
        (1, "a", "2020"), (2, "b", "2021"), (3, "c", "2021"),
        (4, "d", "2022"),
    ]
    # partition values came from footer stats, recorded on the add action
    by_pv = {
        dict(f.partitions)["y"]: f for f in cat.files
    }
    assert set(by_pv) == {"2020", "2021", "2022"}
    # pruning by the derived value
    pruned = cat.pruned_files(spark, "y = '2021'")
    assert len(pruned) == 1
    # rewrite paths read registered externals correctly: delete one row
    delete_delta(spark, root, "id = 2")
    got = sorted(
        (r.id, r.y)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == [(1, "2020"), (3, "2021"), (4, "2022")]
    # and merge over them (the rewrite read attaches add-action values)
    merge_delta(
        spark, root,
        spark.createDataFrame(
            [(3, "C", "2021")], "id long, v string, y string"
        ),
        ["id"],
    )
    got = sorted(
        (r.id, r.v)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == [(1, "a"), (3, "C"), (4, "d")]
    # impure file (two y values) refuses typed
    bad = _loose_pq(
        spark, str(tmp_path / "x" / "bad.parquet"),
        [(8, "h", "2023"), (9, "i", "2024")],
        "id long, v string, y string",
    )
    with pytest.raises(BuzzBadRequestError, match="spans more than one"):
        add_files_delta(spark, root, [bad])
    # empty file refuses typed
    empty = _loose_pq(
        spark, str(tmp_path / "x" / "empty.parquet"), [],
        "id long, v string, y string",
    )
    with pytest.raises(BuzzBadRequestError, match="empty"):
        add_files_delta(spark, root, [empty])


def test_add_files_delta_enforces_table_rules(spark, tmp_path):
    """Registration runs the registered rows through the table's declared
    rules (round-11 verdict ask #1 — the one enforce-or-refuse gap): a
    CHECK-constrained table rejects a violating external file with
    nothing committed, accepts a conforming one; a generated-column
    table validates STORED values against the generation expression."""
    from buzz_rust_spark.errors import BuzzConstraintError
    from buzz_rust_spark.sources.delta_writer import (
        add_files_delta,
        write_delta,
    )

    # --- CHECK constraint over a data column
    root = str(tmp_path / "c")
    write_delta(
        spark.createDataFrame([(1, 10)], "id long, n long").coalesce(1),
        root, configuration={"delta.constraints.pos": "n > 0"},
    )
    bad = _loose_pq(
        spark, str(tmp_path / "x" / "bad.parquet"), [(2, -5)],
        "id long, n long",
    )
    with pytest.raises(BuzzConstraintError, match="pos"):
        add_files_delta(spark, root, [bad])
    # nothing committed: still version 0, one live file
    assert len(DeltaCatalog("c", root).files) == 1
    ok = _loose_pq(
        spark, str(tmp_path / "x" / "ok.parquet"), [(2, 5)],
        "id long, n long",
    )
    assert add_files_delta(spark, root, [ok]) == 1
    got = sorted(
        (r.id, r.n)
        for r in DeltaCatalog("c", root).to_dataframe(spark).collect()
    )
    assert got == [(1, 10), (2, 5)]

    # --- CHECK constraint over a PARTITION column (derived values must
    # reach the enforcement frame)
    proot = str(tmp_path / "p")
    write_delta(
        spark.createDataFrame([(1, "2020")], "id long, y string").coalesce(1),
        proot, partition_by=["y"],
        configuration={"delta.constraints.era": "y >= '2000'"},
    )
    old = _loose_pq(
        spark, str(tmp_path / "x" / "old.parquet"), [(2, "1999")],
        "id long, y string",
    )
    with pytest.raises(BuzzConstraintError, match="era"):
        add_files_delta(spark, proot, [old])
    new = _loose_pq(
        spark, str(tmp_path / "x" / "new.parquet"), [(2, "2024")],
        "id long, y string",
    )
    assert add_files_delta(spark, proot, [new]) == 1

    # --- generated column: stored values must equal the expression
    from pyspark.sql.types import LongType, StructField, StructType

    groot = str(tmp_path / "g")
    gen_schema = StructType([
        StructField("a", LongType()),
        StructField(
            "b", LongType(), True, {"delta.generationExpression": "a * 2"}
        ),
    ])
    write_delta(
        spark.createDataFrame([(1, 2)], gen_schema).coalesce(1), groot
    )
    gbad = _loose_pq(
        spark, str(tmp_path / "x" / "gbad.parquet"), [(3, 7)],
        "a long, b long",
    )
    with pytest.raises(BuzzConstraintError, match="generated"):
        add_files_delta(spark, groot, [gbad])
    gok = _loose_pq(
        spark, str(tmp_path / "x" / "gok.parquet"), [(3, 6)],
        "a long, b long",
    )
    assert add_files_delta(spark, groot, [gok]) == 1


def test_cleanup_delta_log(spark, tmp_path):
    """Metadata cleanup: expired commits + superseded checkpoints below
    the newest checkpoint go away; snapshot reads and time travel at or
    above it keep working; changelog windows reaching below refuse
    typed; a surviving V2 manifest's sidecars are kept.  The writer
    replays the cleaned log through the same checkpoint: appends keep
    every row, the schema gate holds, vacuum keeps every live file, and
    restore/clone to a cleaned version refuse typed."""
    from buzz_rust_spark.errors import BuzzExecutionError, BuzzSchemaError
    from buzz_rust_spark.sources.delta_catalog import read_delta_changelog
    from buzz_rust_spark.sources.delta_writer import (
        cleanup_delta_log,
        clone_delta,
        restore_delta,
        vacuum_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    # checkpoint every 2 commits: v0..v5 leaves checkpoints at 1, 3, 5
    for i in range(6):
        write_delta(
            spark.createDataFrame([(i, f"v{i}")], "id long, v string"),
            root, mode="append" if i else "overwrite",
            checkpoint_interval=2,
        )
    log = os.path.join(root, "_delta_log")
    # nothing expires inside the retention window
    assert cleanup_delta_log(root, retention_hours=1.0) == []
    # backdate everything, then clean with zero retention
    for n in os.listdir(log):
        p = os.path.join(log, n)
        if os.path.isfile(p):
            os.utime(p, (1, 1))
    removed = sorted(cleanup_delta_log(root, retention_hours=0.0))
    # commits 0..4 and the superseded checkpoints at 1 and 3 are gone
    assert f"{0:020d}.json" in removed and f"{4:020d}.json" in removed
    assert any(n.startswith(f"{1:020d}.checkpoint") for n in removed)
    assert f"{5:020d}.json" not in removed
    assert not any(n.startswith(f"{5:020d}.checkpoint") for n in removed)
    got = sorted(
        r.id for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == [0, 1, 2, 3, 4, 5]
    # time travel at the checkpoint works; below it refuses typed
    assert DeltaCatalog("t", root, version=5).to_dataframe(spark).count() == 6
    with pytest.raises(BuzzExecutionError):
        DeltaCatalog("t", root, version=2)
    with pytest.raises(BuzzExecutionError, match="missing commit"):
        read_delta_changelog(spark, root, 0).collect()
    # the writer reads the cleaned table through its checkpoint too: a
    # wrong-schema append is refused, and an append (checkpointed at once)
    # keeps every row
    with pytest.raises(BuzzSchemaError):
        write_delta(
            spark.createDataFrame([("x",)], "other string"), root,
            mode="append",
        )
    write_delta(
        spark.createDataFrame([(6, "v6")], "id long, v string"), root,
        mode="append", checkpoint_interval=1,
    )
    got = sorted(
        r.id for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == [0, 1, 2, 3, 4, 5, 6]
    # vacuum sees every live file
    live = {f.key for f in DeltaCatalog("t", root).files}
    for d, _, names in os.walk(root):
        for n in names:
            os.utime(os.path.join(d, n), (1, 1))
    removed = vacuum_delta(root, retention_hours=0.0)
    assert not {os.path.join(root, r) for r in removed} & live
    got = sorted(
        r.id for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == [0, 1, 2, 3, 4, 5, 6]
    # restore and clone to a cleaned version refuse typed
    with pytest.raises(BuzzExecutionError, match="missing commit"):
        restore_delta(spark, root, 2)
    with pytest.raises(BuzzExecutionError, match="missing commit"):
        clone_delta(root, str(tmp_path / "c"), version=2)


def test_cleanup_delta_log_keeps_v2_sidecars(spark, tmp_path):
    from buzz_rust_spark.sources.delta_writer import (
        cleanup_delta_log,
        write_delta,
    )

    root = _v2_fixture_base(spark, tmp_path)
    log = os.path.join(root, "_delta_log")
    # v2 protocol + one more commit, checkpointing each commit
    _write_commit(
        log, 3,
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["v2Checkpoint"],
                       "writerFeatures": ["v2Checkpoint"]}}],
    )
    write_delta(
        spark.createDataFrame([(9, "z")], "id long, v string"),
        root, mode="append", checkpoint_interval=1,
    )
    write_delta(
        spark.createDataFrame([(10, "y")], "id long, v string"),
        root, mode="append", checkpoint_interval=1,
    )
    for n in os.listdir(log):
        p = os.path.join(log, n)
        if os.path.isfile(p):
            os.utime(p, (1, 1))
    for n in os.listdir(os.path.join(log, "_sidecars")):
        os.utime(os.path.join(log, "_sidecars", n), (1, 1))
    removed = cleanup_delta_log(root, retention_hours=0.0)
    # the newest checkpoint's sidecar survives; the superseded one's goes
    assert any(n.startswith("_sidecars/") for n in removed)
    assert os.listdir(os.path.join(log, "_sidecars"))
    got = sorted(
        r.id for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == [1, 2, 3, 4, 9, 10]


def _features_table(spark, tmp_path):
    """Row tracking with in-commit timestamps, a null partition value, a
    rename (column mapping by name), a txn write and a DV delete."""
    from buzz_rust_spark.sources.delta_writer import (
        delete_delta,
        evolve_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, f"v{i}", None if i % 3 == 0 else f"p{i % 2}")
             for i in range(8)],
            "id long, v string, p string",
        ).coalesce(1),
        root, partition_by=["p"],
        configuration={
            "delta.enableRowTracking": "true",
            "delta.enableInCommitTimestamps": "true",
        },
    )
    evolve_delta(root, rename_columns={"v": "val"})
    write_delta(
        spark.createDataFrame([(8, "v8", "p0")], "id long, val string, p string"),
        root, mode="append", partition_by=["p"],
        txn_app_id="app", txn_version=3,
    )
    delete_delta(spark, root, "id = 4", mode="dv")
    return root


def _v2_checkpoint_table(spark, tmp_path):
    from buzz_rust_spark.sources.delta_writer import write_delta

    root = _v2_fixture_base(spark, tmp_path)
    _write_commit(
        os.path.join(root, "_delta_log"), 3,
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["v2Checkpoint"],
                       "writerFeatures": ["v2Checkpoint"]}}],
    )
    write_delta(
        spark.createDataFrame([(9, "z")], "id long, v string"),
        root, mode="append", txn_app_id="app", txn_version=1,
    )
    return root


@pytest.mark.parametrize("build", [_features_table, _v2_checkpoint_table])
def test_checkpoint_replay_matches_json_replay(spark, tmp_path, build):
    """The shared log replay reads the same state through a checkpoint as
    from the JSON commits alone: live adds dict for dict, metaData,
    protocol, txns and domains."""
    import shutil

    from buzz_rust_spark.sources.delta_catalog import replay_log
    from buzz_rust_spark.sources.delta_writer import (
        _log_state,
        _write_checkpoint,
    )
    from buzz_rust_spark.sources.logstore import LogStore

    root = build(spark, tmp_path)
    log = os.path.join(root, "_delta_log")
    last = replay_log(LogStore(root)).version
    _write_checkpoint(log, _log_state(log, last))
    json_only = str(tmp_path / "json_only")
    shutil.copytree(root, json_only)
    jlog = os.path.join(json_only, "_delta_log")
    for n in os.listdir(jlog):
        if ".checkpoint." in n or n == "_last_checkpoint":
            os.remove(os.path.join(jlog, n))
    shutil.rmtree(os.path.join(jlog, "_sidecars"), ignore_errors=True)
    # with the commits it covers gone, only the checkpoint gives the state
    _drop_commits_below(root, last + 1)
    want = replay_log(LogStore(json_only))
    got = replay_log(LogStore(root))
    assert got.version == want.version == last
    assert got.adds == want.adds
    assert got.meta == want.meta
    assert got.protocol == want.protocol
    assert got.txns == want.txns
    assert got.domains == want.domains
    if build is _features_table:
        assert got.txns == {"app": 3}
        adds = list(got.adds.values())
        assert any(a.get("deletionVector") for a in adds)
        assert any(a["partitionValues"]["p"] is None for a in adds)
        conf = got.meta["configuration"]
        assert conf["delta.columnMapping.mode"] == "name"
        assert "delta.rowTracking" in got.domains
    rows = sorted(
        DeltaCatalog("t", root).to_dataframe(spark).collect(), key=str
    )
    assert rows == sorted(
        DeltaCatalog("t", json_only).to_dataframe(spark).collect(), key=str
    )
    if build is _features_table:  # the null partition reads as SQL NULL
        assert {r.id for r in rows if r.p is None} == {0, 3, 6}


def test_delta_id_mode_nested_rewrites_restamp_inner_ids(spark, tmp_path):
    """Round-11 lift of the NESTED mode=id rewrite refusal: a table with a
    struct column hand-flipped to mode=id survives write, merge (clause
    form), delete, and optimize — every staged file re-emits footer
    field ids on the INNER struct members (the pyarrow post-pass
    _restamp_nested_ids; Spark's own field-id metadata is top-level
    only), and the reads stay correct."""
    import glob as _glob
    import json as _json
    import os as _os

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
    from buzz_rust_spark.sources.delta_writer import (
        _log_state,
        _restamp_nested_ids,
        delete_delta,
        merge_delta,
        optimize_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, (10, "a"), "x"), (2, (20, "b"), "y"), (3, (30, "c"), "z")],
        "id long, payload struct<n: long, s: string>, v string",
    ).coalesce(1)
    write_delta(df, root)

    ids = {"id": 1, "payload": 2, "n": 3, "s": 4, "v": 5}
    log = sorted(
        f for f in _os.listdir(_os.path.join(root, "_delta_log"))
        if f.endswith(".json")
    )[-1]
    lp = _os.path.join(root, "_delta_log", log)
    acts = [_json.loads(line) for line in open(lp) if line.strip()]
    for a in acts:
        if "metaData" in a:
            sch = _json.loads(a["metaData"]["schemaString"])
            for f in sch["fields"]:
                f["metadata"] = {
                    "delta.columnMapping.id": ids[f["name"]],
                    "delta.columnMapping.physicalName": f["name"],
                }
                if isinstance(f["type"], dict):
                    for nf in f["type"]["fields"]:
                        nf["metadata"] = {
                            "delta.columnMapping.id": ids[nf["name"]],
                            "delta.columnMapping.physicalName": nf["name"],
                        }
            a["metaData"]["schemaString"] = _json.dumps(sch)
            a["metaData"]["configuration"] = {
                "delta.columnMapping.mode": "id",
                "delta.columnMapping.maxColumnId": "5",
            }
        if "protocol" in a:
            a["protocol"] = {"minReaderVersion": 2, "minWriterVersion": 5}
    open(lp, "w").write("".join(_json.dumps(a) + "\n" for a in acts))
    meta = _log_state(_os.path.join(root, "_delta_log")).meta
    _restamp_nested_ids(
        _glob.glob(_os.path.join(root, "*.parquet")), meta
    )

    def assert_ids():
        live = _log_state(_os.path.join(root, "_delta_log")).adds
        assert live
        for rel in live:
            sch = _pq.ParquetFile(_os.path.join(root, rel)).schema_arrow
            pf = sch.field("payload")
            assert (pf.metadata or {}).get(b"PARQUET:field_id") == b"2", rel
            for nm, want in (("n", b"3"), ("s", b"4")):
                got = pf.type.field(
                    pf.type.get_field_index(nm)
                ).metadata.get(b"PARQUET:field_id")
                assert got == want, (rel, nm, got)

    assert_ids()
    # append through the writer
    write_delta(
        spark.createDataFrame(
            [(4, (40, "d"), "w")],
            "id long, payload struct<n: long, s: string>, v string",
        ).coalesce(1),
        root, mode="append",
    )
    assert_ids()
    # clause merge: partial SET on the struct column
    merge_delta(
        spark, root,
        spark.createDataFrame(
            [(2, (99, "B"), "q")],
            "id long, payload struct<n: long, s: string>, v string",
        ),
        ["id"],
        matched_clauses=[
            {"action": "update", "condition": "s.payload.n > t.payload.n",
             "set": {"payload": "s.payload"}},
        ],
    )
    assert_ids()
    delete_delta(spark, root, "id = 3")
    assert_ids()
    optimize_delta(spark, root, target_file_bytes=1 << 30)
    assert_ids()
    got = {
        r["id"]: (r["payload"]["n"], r["payload"]["s"], r["v"])
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    }
    assert got == {
        1: (10, "a", "x"),
        2: (99, "B", "y"),  # struct replaced, v kept at target value
        4: (40, "d", "w"),
    }


def test_rewrite_scan_manifest_branch(spark, tmp_path, monkeypatch):
    """Past manifest.UNION_MAX_GROUPS distinct partition tuples among
    flat-registered files, the rewrite read switches from per-tuple
    literal unions to one scan + broadcast manifest join — same rows,
    bounded plan size (threshold lowered via monkeypatch)."""
    from buzz_rust_spark.sources import manifest
    from buzz_rust_spark.sources.delta_writer import (
        add_files_delta,
        delete_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(0, "seed", "2019")], "id long, v string, y string"
        ).coalesce(1),
        root, partition_by=["y"],
    )
    exts = []
    for i in range(3):  # three distinct tuples, all flat externals
        exts.append(_loose_pq(
            spark, str(tmp_path / "x" / f"e{i}.parquet"),
            [(i + 1, f"v{i}", f"202{i}")], "id long, v string, y string",
        ))
    add_files_delta(spark, root, exts)
    monkeypatch.setattr(manifest, "UNION_MAX_GROUPS", 1)
    # a delete whose predicate touches every file exercises the scan
    delete_delta(spark, root, "id = 2")
    got = sorted(
        (r.id, r.y)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == [(0, "2019"), (1, "2020"), (3, "2022")]


def test_add_files_delta_mode_name_table(spark, tmp_path):
    """add_files on a columnMapping.mode=name table (round-12 lift of
    the round-11 refusal): external files carrying the table's PHYSICAL
    column names register, read back under logical names, and rewrites
    over them keep working; logically-named files refuse (the strict
    footer check runs against the physical schema)."""
    from buzz_rust_spark.errors import BuzzSchemaError
    from buzz_rust_spark.sources.delta_writer import (
        add_files_delta,
        delete_delta,
    )

    table = _make_column_mapped_table(spark, str(tmp_path))
    ext = _loose_pq(
        spark, str(tmp_path / "x" / "ext.parquet"),
        [("fin", 7)], "`col-aaa111` string, `col-bbb222` long",
    )
    v = add_files_delta(spark, table, [ext])
    assert v == 1
    got = sorted(
        (r.team_name, r.staff)
        for r in DeltaCatalog("cm", table).to_dataframe(spark).collect()
    )
    assert got == [("eng", 10), ("fin", 7), ("ops", 5), ("sci", 12)]
    # stats keys are physical → merge/zone pruning namespace holds
    acts = [
        json.loads(l)
        for l in open(os.path.join(table, "_delta_log", f"{1:020d}.json"))
    ]
    add = next(a["add"] for a in acts if "add" in a)
    assert "col-bbb222" in json.loads(add["stats"])["minValues"]
    # rewrite over the registered external
    delete_delta(spark, table, "staff = 7")
    got = sorted(
        r.team_name
        for r in DeltaCatalog("cm2", table).to_dataframe(spark).collect()
    )
    assert got == ["eng", "ops", "sci"]
    # a file carrying LOGICAL names does not match the physical schema
    bad = _loose_pq(
        spark, str(tmp_path / "x" / "bad.parquet"),
        [("fin", 7)], "team_name string, staff long",
    )
    with pytest.raises(BuzzSchemaError, match="missing from parquet"):
        add_files_delta(spark, table, [bad])


def test_add_files_delta_mode_id_by_field_id(spark, tmp_path):
    """add_files on a mode=id table: columns resolve by PARQUET:field_id
    (per-file physical names are free — the spec's contract); recorded
    stats re-key to the table's physical names; files missing an id or
    with a mismatched type refuse typed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from buzz_rust_spark.errors import BuzzSchemaError
    from buzz_rust_spark.sources.delta_writer import add_files_delta

    table = _make_id_mapped_table(str(tmp_path))

    def idfile(path, name_col, staff_col, rows, staff_type=pa.int64(),
               with_ids=True):
        md = (lambda i: {b"PARQUET:field_id": str(i).encode()}) if with_ids \
            else (lambda i: None)
        schema = pa.schema([
            pa.field(name_col, pa.string(), metadata=md(1)),
            pa.field(staff_col, staff_type, metadata=md(2)),
        ])
        pq.write_table(
            pa.table(
                {name_col: pa.array([r[0] for r in rows], pa.string()),
                 staff_col: pa.array([r[1] for r in rows], staff_type)},
                schema=schema,
            ),
            path,
        )
        return path

    os.makedirs(str(tmp_path / "x"), exist_ok=True)
    ext = idfile(
        str(tmp_path / "x" / "weird_names.parquet"), "zz_a", "zz_b",
        [("fin", 7), ("hr", 3)],
    )
    v = add_files_delta(spark, table, [ext])
    assert v == 1
    got = sorted(
        (r.team_name, r.staff)
        for r in DeltaCatalog("im", table).to_dataframe(spark).collect()
    )
    assert got == [
        ("eng", 10), ("fin", 7), ("hr", 3), ("ops", 5), ("sci", 12),
    ]
    # stats re-keyed to the TABLE's physical names, not the file's
    acts = [
        json.loads(l)
        for l in open(os.path.join(table, "_delta_log", f"{1:020d}.json"))
    ]
    add = next(a["add"] for a in acts if "add" in a)
    st = json.loads(add["stats"])
    assert st["minValues"].get("c0_staff") == 3 and "zz_b" not in str(st)
    # no field ids → typed refusal
    noid = idfile(
        str(tmp_path / "x" / "noid.parquet"), "a", "b", [("x", 1)],
        with_ids=False,
    )
    with pytest.raises(BuzzSchemaError, match="field id"):
        add_files_delta(spark, table, [noid])
    # mismatched type under the right id → typed refusal
    badtype = idfile(
        str(tmp_path / "x" / "badtype.parquet"), "a", "b", [("x", "1")],
        staff_type=pa.string(),
    )
    with pytest.raises(BuzzSchemaError, match="type"):
        add_files_delta(spark, table, [badtype])


def test_clone_delta_shallow(spark, tmp_path):
    """Shallow CLONE: metadata-only, absolute-path adds, full divergence
    (writes/optimize/vacuum on the clone never touch the source), DV
    descriptors converted u→p, constraints/partitioning carried, and
    time-travel clones pin the source's version."""
    from buzz_rust_spark.errors import (
        BuzzBadRequestError,
        BuzzConstraintError,
    )
    from buzz_rust_spark.sources.delta_writer import (
        clone_delta,
        delete_delta,
        update_delta,
        vacuum_delta,
        write_delta,
    )

    src = str(tmp_path / "src")
    write_delta(
        spark.createDataFrame(
            [(1, "a", "2020"), (2, "b", "2021")], "id long, v string, y string"
        ).coalesce(1),
        src, partition_by=["y"],
        configuration={"delta.constraints.pos": "id > 0"},
    )
    write_delta(
        spark.createDataFrame(
            [(3, "c", "2021")], "id long, v string, y string"
        ).coalesce(1),
        src, mode="append", partition_by=["y"],
    )
    delete_delta(spark, src, "id = 1", mode="dv")

    dst = str(tmp_path / "dst")
    assert clone_delta(src, dst) == 0
    # zero data under the clone besides the log
    assert not [
        p for p in os.listdir(dst) if p != "_delta_log"
    ]
    cat = DeltaCatalog("c", dst)
    got = sorted((r.id, r.v, r.y) for r in cat.to_dataframe(spark).collect())
    assert got == [(2, "b", "2021"), (3, "c", "2021")]  # DV applied via 'p'
    # partition pruning over the cloned absolute adds
    assert len(cat.pruned_files(spark, "y = '2021'")) == 2
    # constraints carried: a violating write into the CLONE refuses
    with pytest.raises(BuzzConstraintError, match="pos"):
        write_delta(
            spark.createDataFrame(
                [(-1, "z", "2020")], "id long, v string, y string"
            ).coalesce(1),
            dst, mode="append", partition_by=["y"],
        )
    # time-travel clone pins version 0 (before append and DV delete)
    dst0 = str(tmp_path / "dst0")
    clone_delta(src, dst0, version=0)
    got0 = sorted(
        r.id for r in DeltaCatalog("c0", dst0).to_dataframe(spark).collect()
    )
    assert got0 == [1, 2]
    # divergence: mutate the clone; the source never changes
    update_delta(spark, dst, {"v": "upper(v)"}, "id = 2")
    delete_delta(spark, dst, "id = 3")
    vacuum_delta(dst, retention_hours=0.0)
    src_rows = sorted(
        (r.id, r.v)
        for r in DeltaCatalog("s", src).to_dataframe(spark).collect()
    )
    assert src_rows == [(2, "b"), (3, "c")]
    dst_rows = sorted(
        (r.id, r.v)
        for r in DeltaCatalog("d", dst).to_dataframe(spark).collect()
    )
    assert dst_rows == [(2, "B")]
    # guards: existing destination; bad version
    with pytest.raises(BuzzBadRequestError, match="already a Delta"):
        clone_delta(src, dst)
    with pytest.raises(BuzzBadRequestError, match="no version"):
        clone_delta(src, str(tmp_path / "nope"), version=99)


def test_truncate_delta_metadata_only(spark, tmp_path):
    """TRUNCATE: one remove-only commit, no scan, prior versions time-
    travelable; CDF readers derive the deletes through the net-diff
    fallback; append-only tables refuse."""
    from buzz_rust_spark.errors import BuzzBadRequestError
    from buzz_rust_spark.sources.delta_catalog import read_delta_changelog
    from buzz_rust_spark.sources.delta_writer import (
        truncate_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
        .coalesce(1),
        root, configuration={"delta.enableChangeDataFeed": "true"},
    )
    v = truncate_delta(root)
    assert v == 1
    cat = DeltaCatalog("t", root)
    assert cat.to_dataframe(spark).count() == 0
    assert DeltaCatalog("t0", root, version=0).to_dataframe(spark).count() == 2
    # the truncate commit carries ONLY removes (and commitInfo)
    with open(os.path.join(root, "_delta_log", f"{1:020d}.json")) as fh:
        acts = [json.loads(l) for l in fh if l.strip()]
    assert all(set(a) <= {"remove", "commitInfo"} for a in acts)
    # CDF net-diff fallback surfaces the deletes
    rows = sorted(
        (r.id, r._change_type)
        for r in read_delta_changelog(spark, root, 0).collect()
    )
    assert rows == [(1, "delete"), (2, "delete")]
    assert truncate_delta(root) is None
    aroot = str(tmp_path / "a")
    write_delta(
        spark.createDataFrame([(1,)], "id long").coalesce(1), aroot,
        configuration={"delta.appendOnly": "true"},
    )
    with pytest.raises(BuzzBadRequestError, match="append"):
        truncate_delta(aroot)


def test_add_files_delta_distributed_sweep(spark, tmp_path, monkeypatch):
    """Past the schema-check threshold the per-file footer work (verify +
    partition derivation + stats) runs as ONE distributed task sweep —
    same results and same TYPED errors as the driver loop (threshold
    lowered via monkeypatch)."""
    from buzz_rust_spark.errors import BuzzBadRequestError, BuzzSchemaError
    from buzz_rust_spark.sources import schema_check
    from buzz_rust_spark.sources.delta_writer import (
        add_files_delta,
        write_delta,
    )

    monkeypatch.setattr(schema_check, "DISTRIBUTE_THRESHOLD", 1)
    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(0, "x", "2019")], "id long, v string, y string"
        ).coalesce(1),
        root, partition_by=["y"],
    )
    exts = [
        _loose_pq(
            spark, str(tmp_path / "x" / f"e{i}.parquet"),
            [(i + 1, f"v{i}", f"202{i}")], "id long, v string, y string",
        )
        for i in range(4)
    ]
    v = add_files_delta(spark, root, exts)
    assert v == 1
    cat = DeltaCatalog("t", root)
    got = sorted((r.id, r.y) for r in cat.to_dataframe(spark).collect())
    assert got == [
        (0, "2019"), (1, "2020"), (2, "2021"), (3, "2022"), (4, "2023"),
    ]
    # stats recorded through the sweep (candidate pruning works)
    assert all(
        f.partitions for f in cat.files if "x/e" in f.key
    )
    # typed errors survive the executor round-trip with their class
    bad = _loose_pq(
        spark, str(tmp_path / "x" / "bad.parquet"),
        [(9, 9, "2030")], "id long, v long, y string",  # v wrong type
    )
    with pytest.raises(BuzzSchemaError, match="type"):
        add_files_delta(spark, root, [bad] + [
            _loose_pq(
                spark, str(tmp_path / "x" / f"g{i}.parquet"),
                [(50 + i, "g", "2040")], "id long, v string, y string",
            )
            for i in range(3)
        ])
    impure = _loose_pq(
        spark, str(tmp_path / "x" / "impure.parquet"),
        [(60, "i", "2050"), (61, "i", "2051")],
        "id long, v string, y string",
    )
    with pytest.raises(BuzzBadRequestError, match="spans"):
        add_files_delta(spark, root, [impure] + [
            _loose_pq(
                spark, str(tmp_path / "x" / f"h{i}.parquet"),
                [(70 + i, "h", "2060")], "id long, v string, y string",
            )
            for i in range(3)
        ])
