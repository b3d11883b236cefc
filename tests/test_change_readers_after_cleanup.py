"""Delta change readers on a log whose early commits were cleaned.

``cleanup_delta_log`` removes the JSON commits below the newest checkpoint.
An incremental consumer whose cursor is at or above that checkpoint must
keep working: ``read_delta_changes`` and ``read_delta_changelog`` take the
table state at the edge of their window from the checkpoint-aware replay,
and only the commits inside the window have to be present.  A cursor below
the cleanup still gets the typed "missing commit" error.

Kept outside the ``test_delta*`` modules (all ``slow``) so the default
suite runs it."""

from __future__ import annotations

import os

import pytest

from buzz_rust_spark.errors import BuzzExecutionError
from buzz_rust_spark.sources.delta_catalog import (
    read_delta_changelog,
    read_delta_changes,
)
from buzz_rust_spark.sources.delta_writer import cleanup_delta_log, write_delta
from buzz_rust_spark.streaming.delta_tail import delta_changes_poll


@pytest.fixture
def cleaned_table(spark, tmp_path):
    """Seven one-row appends (v0..v6) checkpointed at v5, then a cleanup
    that removes commits 0-4."""
    root = str(tmp_path / "t")
    for i in range(7):
        write_delta(
            spark.createDataFrame([(i, f"v{i}")], "id long, v string"),
            root,
            checkpoint_interval=6,
        )
    log = os.path.join(root, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{5:020d}.checkpoint.parquet"))
    # backdate the log so a zero-hour retention expires every old file
    for n in os.listdir(log):
        p = os.path.join(log, n)
        if os.path.isfile(p):
            os.utime(p, (1, 1))
    removed = cleanup_delta_log(root, retention_hours=0)
    assert sorted(n for n in removed if n.endswith(".json")) == [
        f"{v:020d}.json" for v in range(5)
    ]
    return root


def test_change_readers_after_log_cleanup(spark, cleaned_table):
    root = cleaned_table
    rows = read_delta_changes(spark, root, from_version=5).collect()
    assert [(r.id, r.v, r._commit_version) for r in rows] == [(6, "v6", 6)]

    log = read_delta_changelog(spark, root, from_version=5).collect()
    assert [(r.id, r.v, r._change_type) for r in log] == [(6, "v6", "insert")]

    df, cursor, to_version = delta_changes_poll(spark, root, cursor=5)
    assert (cursor, to_version) == (6, 6)
    assert [(r.id, r.v) for r in df.collect()] == [(6, "v6")]

    # a cursor below the cleanup cannot be served: commit 4 is gone
    with pytest.raises(BuzzExecutionError, match="missing commit"):
        read_delta_changes(spark, root, from_version=3)
    with pytest.raises(BuzzExecutionError, match="missing commit"):
        read_delta_changelog(spark, root, from_version=3)
