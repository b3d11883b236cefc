"""File identity under odd table directories.

Every plan that joins rows back to the file they came from (MERGE, DELETE
and UPDATE attribution, deletion vectors, the Delta changelog, Iceberg
position and equality deletes, add_files) keys on the raw
``_metadata.file_path``, matched on the driver against the catalog keys.
A scan spells a path percent-encoded while a catalog key is raw, so each
operation runs here on tables whose directory (and, for add_files, whose
data-file names) carry a space, a literal ``%41``, a ``+``, a ``#``,
non-ASCII characters, escapes that must stay literal (``a+b%20c``,
``x%2541+``) and a ``%`` that is no escape (``100%+``).  Every answer is
checked against the expected rows."""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from buzz_rust_spark.sources.delta_catalog import DeltaCatalog, read_delta_changelog
from buzz_rust_spark.sources.delta_writer import (
    add_files_delta,
    delete_delta,
    merge_delta,
    update_delta,
    write_delta,
)
from buzz_rust_spark.sources.iceberg import IcebergCatalog, read_iceberg_changelog
from buzz_rust_spark.sources.iceberg_writer import (
    add_files_iceberg,
    delete_iceberg,
    merge_iceberg,
    write_iceberg,
)

# Long-running integration suite: deselected by default (see pyproject
# [tool.pytest.ini_options]); run with `pytest -m ""` to include it.
pytestmark = pytest.mark.slow

ODD_DIRS = ["with space", "pct%41", "a+b%20c", "x%2541+", "hash#1", "é ü", "100%+"]
SCHEMA = "k long, v long, tag string"
BASE = {k: (10 * k, "keep") for k in range(6)}


def _table(spark, tmp_path, odd: str, writer=write_delta) -> str:
    """A two-file table under a directory named ``odd``: k < 3, then k >= 3."""
    root = str(tmp_path / odd / "t")
    for part in ((0, 1, 2), (3, 4, 5)):
        rows = [(k, *BASE[k]) for k in part]
        writer(spark.createDataFrame(rows, SCHEMA).coalesce(1), root, mode="append")
    return root


def _rows(df) -> dict:
    return {r["k"]: (r["v"], r["tag"]) for r in df.collect()}


def _delta(spark, root) -> dict:
    return _rows(DeltaCatalog("t", root).to_dataframe(spark))


def _iceberg(spark, root) -> dict:
    return _rows(IcebergCatalog("t", root).to_dataframe(spark))


CLAUSES = [
    {"action": "delete", "condition": "s.tag = 'tomb'"},
    {"action": "update", "condition": "s.v > t.v", "set": {"v": "s.v + t.v"}},
]
# k=2 matched, no clause fires; k=3 update fires; k=4 delete fires;
# k=11 inserted
CLAUSE_SRC = [(2, 5, "x"), (3, 999, "x"), (4, 40, "tomb"), (11, 111, "new")]
CLAUSE_EXPECT = {
    0: (0, "keep"), 1: (10, "keep"), 2: (20, "keep"), 3: (1029, "keep"),
    5: (50, "keep"), 11: (111, "new"),
}


@pytest.mark.parametrize("odd", ODD_DIRS)
def test_merge_delta_odd_dir(spark, tmp_path, odd):
    """Plain, clause and by-source MERGE attribute matched rows to their
    files under an odd table directory."""
    root = _table(spark, tmp_path / "plain", odd)
    src = spark.createDataFrame([(1, 111, "u"), (9, 999, "n")], SCHEMA)
    assert merge_delta(spark, root, src, ["k"]) == 2
    assert _delta(spark, root) == {**BASE, 1: (111, "u"), 9: (999, "n")}

    root = _table(spark, tmp_path / "clauses", odd)
    src = spark.createDataFrame(CLAUSE_SRC, SCHEMA)
    assert merge_delta(spark, root, src, ["k"], matched_clauses=CLAUSES) == 2
    assert _delta(spark, root) == CLAUSE_EXPECT

    root = _table(spark, tmp_path / "by_source", odd)
    merge_delta(
        spark, root, src, ["k"], matched_clauses=CLAUSES,
        by_source_clauses=[{"action": "delete", "condition": "t.v >= 50"}],
    )
    assert _delta(spark, root) == {
        k: r for k, r in CLAUSE_EXPECT.items() if k != 5
    }


@pytest.mark.parametrize("mode", ["cow", "dv"])
@pytest.mark.parametrize("odd", ODD_DIRS)
def test_delete_update_delta_odd_dir(spark, tmp_path, odd, mode):
    """DELETE and UPDATE in both modes, a second DELETE over the first
    one's vectors, the DV read of the result and the changelog of the
    window, under an odd table directory."""
    root = _table(spark, tmp_path, odd)
    assert delete_delta(spark, root, "k = 1", mode=mode) == 2
    assert update_delta(spark, root, {"v": "v + 1000"}, "k = 4", mode=mode) == 3
    assert delete_delta(spark, root, "k IN (0, 2)", mode=mode) == 4
    expect = {3: (30, "keep"), 4: (1040, "keep"), 5: (50, "keep")}
    assert _delta(spark, root) == expect

    # changelog contract: from-state ∪ inserts ∖ deletes = to-state
    log = read_delta_changelog(spark, root, from_version=1).collect()
    ins = Counter((r.k, r.v, r.tag) for r in log if r._change_type == "insert")
    dels = Counter((r.k, r.v, r.tag) for r in log if r._change_type == "delete")
    before = Counter((k, v, t) for k, (v, t) in BASE.items())
    assert dels <= before + ins
    assert before + ins - dels == Counter(
        (k, v, t) for k, (v, t) in expect.items()
    )


@pytest.mark.parametrize("odd", ODD_DIRS)
def test_iceberg_deletes_odd_dir(spark, tmp_path, odd):
    """Position deletes (delete_iceberg) and equality deletes
    (merge_iceberg) apply under an odd table directory, a position delete
    over an equality-deleted table lands on the right rows, and the
    changelog retracts exactly the deleted rows."""
    root = _table(spark, tmp_path, odd, writer=write_iceberg)
    start = IcebergCatalog("t", root).resolved_snapshot_id
    assert delete_iceberg(spark, root, "k = 1") is not None
    assert _iceberg(spark, root) == {k: r for k, r in BASE.items() if k != 1}
    merge_iceberg(
        spark, root, spark.createDataFrame([(3, 333, "m")], SCHEMA), ["k"]
    )
    assert delete_iceberg(spark, root, "k = 4") is not None
    expect = {0: (0, "keep"), 2: (20, "keep"), 3: (333, "m"), 5: (50, "keep")}
    assert _iceberg(spark, root) == expect

    log = read_iceberg_changelog(spark, root, start).collect()
    ins = Counter((r.k, r.v, r.tag) for r in log if r._change_type == "insert")
    dels = Counter((r.k, r.v, r.tag) for r in log if r._change_type == "delete")
    assert ins == Counter([(3, 333, "m")])
    assert dels == Counter([(1, 10, "keep"), (3, 30, "keep"), (4, 40, "keep")])


@pytest.mark.parametrize("odd", ODD_DIRS)
def test_add_files_odd_dir(spark, tmp_path, odd):
    """add_files_delta (rule check through the partition-attach join) and
    add_files_iceberg (bucket tuples derived per file) register data files
    whose directory and names are odd."""
    ext = tmp_path / odd / "ext"
    ext.mkdir(parents=True)
    paths = []
    for i, k in enumerate((7, 8)):
        path = str(ext / f"{odd} {i}.parquet")
        pq.write_table(
            pa.table({"k": [k], "v": [10 * k], "tag": ["2020"]}), path
        )
        paths.append(path)

    root = str(tmp_path / odd / "delta")
    write_delta(
        spark.createDataFrame([(1, 10, "2019")], SCHEMA), root,
        partition_by=["tag"], configuration={"delta.constraints.pos": "v >= 0"},
    )
    assert add_files_delta(spark, root, paths) == 1
    assert _delta(spark, root) == {
        1: (10, "2019"), 7: (70, "2020"), 8: (80, "2020")
    }

    root = str(tmp_path / odd / "iceberg")
    write_iceberg(
        spark.createDataFrame([(1, 10, "x")], SCHEMA), root,
        partition_by=["bucket(4, k)"],
    )
    out = add_files_iceberg(spark, root, paths)
    assert out["added_files"] == 2 and out["added_records"] == 2
    assert _iceberg(spark, root) == {
        1: (10, "x"), 7: (70, "2020"), 8: (80, "2020")
    }
