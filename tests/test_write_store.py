"""Commit-store conditional-put protocol (sources/write_store.py).

The lakehouse writers' one store-dependent primitive is the commit claim:
put-if-absent of a versioned filename (Delta ``_delta_log/<N>.json`` per
PROTOCOL.md's write-once rule; Iceberg's ``v<N>.metadata.json`` version
promote as a compare-and-swap).  These tests pin the store contract itself
and then race two REAL writers deterministically: a barrier parked on the
store's ``before_claim`` seam guarantees both read the same table version
before either claims, so the race is reproduced on every run instead of
depending on thread scheduling."""

from __future__ import annotations

import threading

import pytest
# Long-running integration suite: deselected by default (see pyproject
# [tool.pytest.ini_options]); run with `pytest -m ""` to include it.
pytestmark = pytest.mark.slow


from buzz_rust_spark.errors import BuzzCommitConflictError
from buzz_rust_spark.sources.write_store import (
    LocalCommitStore,
    MemoryCommitStore,
)


# --- store contract -------------------------------------------------------------


@pytest.mark.parametrize("make", [
    lambda tmp: (LocalCommitStore(), str(tmp / "f")),
    lambda tmp: (MemoryCommitStore(), "mem/f"),
], ids=["local", "memory"])
def test_put_if_absent_second_writer_conflicts(tmp_path, make):
    store, path = make(tmp_path)
    store.put_if_absent(path, b"winner")
    with pytest.raises(BuzzCommitConflictError) as exc:
        store.put_if_absent(path, b"loser")
    assert exc.value.retryable is True
    # the winner's content is untouched
    if isinstance(store, MemoryCommitStore):
        assert store.read(path) == b"winner"
    else:
        assert open(path, "rb").read() == b"winner"


@pytest.mark.parametrize("make", [
    lambda tmp: (LocalCommitStore(), str(tmp / "f")),
    lambda tmp: (MemoryCommitStore(), "mem/f"),
], ids=["local", "memory"])
def test_put_if_absent_threads_exactly_one_winner(tmp_path, make):
    store, path = make(tmp_path)
    n = 8
    barrier = threading.Barrier(n, timeout=30)
    results: list = [None] * n

    def attempt(i):
        try:
            barrier.wait()
            store.put_if_absent(path, f"writer-{i}".encode())
            results[i] = "won"
        except BuzzCommitConflictError:
            results[i] = "conflict"

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert results.count("won") == 1
    assert results.count("conflict") == n - 1
    content = (
        store.read(path)
        if isinstance(store, MemoryCommitStore)
        else open(path, "rb").read()
    )
    assert content == f"writer-{results.index('won')}".encode()


def test_put_atomic_replaces(tmp_path):
    store = LocalCommitStore()
    p = str(tmp_path / "hint")
    store.put_atomic(p, b"1")
    store.put_atomic(p, b"2")
    assert open(p, "rb").read() == b"2"
    # no tmp litter
    assert [f for f in tmp_path.iterdir()] == [tmp_path / "hint"]


def _racing_store(parties: int = 2):
    """A LocalCommitStore whose claims rendezvous on a barrier: both racers
    provably read the table at the same version before either claims."""
    store = LocalCommitStore()
    barrier = threading.Barrier(parties, timeout=60)

    def before_claim(path):
        try:
            barrier.wait()
        except threading.BrokenBarrierError:
            pass  # partner already finished (retry path) — proceed alone

    store.before_claim = before_claim
    return store


def _race(fn_a, fn_b):
    """Run two callables concurrently; return their outcomes
    ('won' | exception instance)."""
    out: list = [None, None]

    def run(i, fn):
        try:
            fn()
            out[i] = "won"
        except Exception as exc:  # noqa: BLE001 — the assertion types it
            out[i] = exc

    ta = threading.Thread(target=run, args=(0, fn_a))
    tb = threading.Thread(target=run, args=(1, fn_b))
    ta.start(); tb.start()
    ta.join(300); tb.join(300)
    return out


# --- real-writer contention -------------------------------------------------------


def test_delta_concurrent_commit_one_winner(spark, tmp_path):
    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
    from buzz_rust_spark.sources.delta_writer import write_delta

    root = str(tmp_path / "t")
    write_delta(spark.createDataFrame([(0,)], "id long"), root)
    store = _racing_store()

    def writer(v):
        return lambda: write_delta(
            spark.createDataFrame([(v,)], "id long"), root, store=store,
            max_commit_retries=0,
        )

    out = _race(writer(1), writer(2))
    assert out.count("won") == 1
    loser = next(o for o in out if o != "won")
    assert isinstance(loser, BuzzCommitConflictError) and loser.retryable
    # the log is intact: exactly versions 0 and 1, readable snapshot
    winner_id = 1 if out[0] == "won" else 2
    rows = sorted(
        r.id
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert rows == [0, winner_id]
    # the loser retries against the advanced table and succeeds
    write_delta(
        spark.createDataFrame([(3,)], "id long"), root, store=LocalCommitStore()
    )
    rows = sorted(
        r.id for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert rows == [0, winner_id, 3]


def test_iceberg_concurrent_commit_one_winner(spark, tmp_path):
    from buzz_rust_spark.sources.iceberg import IcebergCatalog
    from buzz_rust_spark.sources.iceberg_writer import write_iceberg

    root = str(tmp_path / "t")
    write_iceberg(spark.createDataFrame([(0,)], "id long"), root)
    store = _racing_store()

    def writer(v):
        return lambda: write_iceberg(
            spark.createDataFrame([(v,)], "id long"), root, mode="append",
            store=store, max_commit_retries=0,
        )

    out = _race(writer(1), writer(2))
    assert out.count("won") == 1
    loser = next(o for o in out if o != "won")
    assert isinstance(loser, BuzzCommitConflictError) and loser.retryable
    winner_id = 1 if out[0] == "won" else 2
    rows = sorted(
        r.id for r in IcebergCatalog("t", root).to_dataframe(spark).collect()
    )
    assert rows == [0, winner_id]
    # retry lands at the NEXT version; nothing from the failed attempt is
    # visible (the loser's orphaned data files are vacuum's job)
    write_iceberg(
        spark.createDataFrame([(3,)], "id long"), root, mode="append",
    )
    rows = sorted(
        r.id for r in IcebergCatalog("t", root).to_dataframe(spark).collect()
    )
    assert rows == [0, winner_id, 3]


def test_iceberg_concurrent_create_one_winner(spark, tmp_path):
    """Both racers CREATE the same fresh table — both build v1; one wins."""
    import os

    from buzz_rust_spark.sources.iceberg import IcebergCatalog
    from buzz_rust_spark.sources.iceberg_writer import write_iceberg

    root = str(tmp_path / "t")
    store = _racing_store()

    def writer(v):
        return lambda: write_iceberg(
            spark.createDataFrame([(v,)], "id long"), root, store=store,
            max_commit_retries=0,
        )

    out = _race(writer(1), writer(2))
    assert out.count("won") == 1
    assert isinstance(next(o for o in out if o != "won"), BuzzCommitConflictError)
    winner_id = 1 if out[0] == "won" else 2
    assert [
        r.id for r in IcebergCatalog("t", root).to_dataframe(spark).collect()
    ] == [winner_id]
    metas = [
        f for f in os.listdir(os.path.join(root, "metadata"))
        if f.endswith(".metadata.json")
    ]
    assert metas == ["v1.metadata.json"]


# --- commit retry: staged files are reused, never re-written ----------------------
#
# Deterministic interleaving without threads: a store whose ``before_claim``
# seam performs a CONFLICTING commit (through the default store) the first
# time it fires — the operation under test then provably loses its first
# claim and exercises the refresh→revalidate→re-claim path.


def _conflicting_store(conflict_fn):
    store = LocalCommitStore()
    state = {"fired": False}

    def before_claim(path):
        if not state["fired"]:
            state["fired"] = True
            conflict_fn()

    store.before_claim = before_claim
    return store


def _glob_parquet(root):
    from glob import glob
    import os

    return sorted(
        p
        for p in glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        if "_delta_log" not in p and os.sep + "metadata" + os.sep not in p
    )


def test_iceberg_append_retry_reuses_staged_files(spark, tmp_path):
    """A losing appender retries the claim with ZERO new data files: the
    staged files are committed as-is at the advanced version."""
    from buzz_rust_spark.sources.iceberg import IcebergCatalog
    from buzz_rust_spark.sources.iceberg_writer import write_iceberg

    root = str(tmp_path / "t")
    write_iceberg(spark.createDataFrame([(0,)], "id long"), root)

    store = _conflicting_store(
        lambda: write_iceberg(
            spark.createDataFrame([(1,)], "id long"), root, mode="append"
        )
    )
    before = set(_glob_parquet(root))
    out = write_iceberg(
        spark.createDataFrame([(2,)], "id long"), root, mode="append",
        store=store,
    )
    assert out is not None and out["metadata_version"] >= 3
    after = set(_glob_parquet(root))
    # exactly the concurrent winner's file(s) + OUR ONE staged set — the
    # retry wrote no new data file
    assert len(after - before) == 2
    rows = sorted(
        r.id for r in IcebergCatalog("t", root).to_dataframe(spark).collect()
    )
    assert rows == [0, 1, 2]


def test_iceberg_create_race_retry(spark, tmp_path):
    """Losing a same-schema CREATE race retries as an append onto the
    winner's table; a different-schema winner aborts typed."""
    from buzz_rust_spark.errors import BuzzCommitAbortedError
    from buzz_rust_spark.sources.iceberg import IcebergCatalog
    from buzz_rust_spark.sources.iceberg_writer import write_iceberg

    root = str(tmp_path / "t")
    store = _conflicting_store(
        lambda: write_iceberg(spark.createDataFrame([(1,)], "id long"), root)
    )
    write_iceberg(
        spark.createDataFrame([(2,)], "id long"), root, store=store
    )
    rows = sorted(
        r.id for r in IcebergCatalog("t", root).to_dataframe(spark).collect()
    )
    assert rows == [1, 2]

    root2 = str(tmp_path / "t2")
    store2 = _conflicting_store(
        lambda: write_iceberg(
            spark.createDataFrame([("x",)], "name string"), root2
        )
    )
    with pytest.raises(BuzzCommitAbortedError):
        write_iceberg(
            spark.createDataFrame([(2,)], "id long"), root2, store=store2
        )


def test_iceberg_merge_retry_commutes(spark, tmp_path):
    """A merge losing its claim to a concurrent append retries at a higher
    sequence number — its equality deletes still cover the pre-existing
    rows, and the concurrent append's keys are upserted too (last-wins)."""
    from buzz_rust_spark.sources.iceberg import IcebergCatalog
    from buzz_rust_spark.sources.iceberg_writer import merge_iceberg, write_iceberg

    root = str(tmp_path / "t")
    write_iceberg(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"), root
    )
    store = _conflicting_store(
        lambda: write_iceberg(
            spark.createDataFrame([(3, 30)], "id long, v long"),
            root, mode="append",
        )
    )
    before = set(_glob_parquet(root))
    out = merge_iceberg(
        spark, root,
        spark.createDataFrame(
            [(2, 200), (4, 400)], "id long, v long"
        ).coalesce(1),
        key_cols=["id"], store=store,
    )
    assert out is not None
    # winner's 1 data file + our staged data file + our staged key file
    assert len(set(_glob_parquet(root)) - before) == 3
    got = {
        (r.id, r.v)
        for r in IcebergCatalog("t", root).to_dataframe(spark).collect()
    }
    assert got == {(1, 10), (2, 200), (3, 30), (4, 400)}


def test_iceberg_delete_retry_vs_append_and_abort_vs_rewrite(spark, tmp_path):
    """delete_iceberg retries through a concurrent APPEND (matched files
    untouched), but a concurrent REWRITE of a matched file is the typed
    non-retryable abort — committing by-position deletes against a dead
    file would silently resurrect rows."""
    from buzz_rust_spark.errors import BuzzCommitAbortedError
    from buzz_rust_spark.sources.iceberg import IcebergCatalog
    from buzz_rust_spark.sources.iceberg_writer import (
        delete_iceberg,
        rewrite_iceberg,
        write_iceberg,
    )

    root = str(tmp_path / "t")
    write_iceberg(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), root
    )
    store = _conflicting_store(
        lambda: write_iceberg(
            spark.createDataFrame([(3, "c")], "id long, v string"),
            root, mode="append",
        )
    )
    out = delete_iceberg(spark, root, "id = 1", store=store)
    assert out is not None and out["deleted_rows"] == 1
    rows = sorted(
        r.id for r in IcebergCatalog("t", root).to_dataframe(spark).collect()
    )
    assert rows == [2, 3]

    store2 = _conflicting_store(lambda: rewrite_iceberg(spark, root))
    with pytest.raises(BuzzCommitAbortedError):
        delete_iceberg(spark, root, "id = 2", store=store2)
    # the table is unharmed and the delete works when re-run
    assert delete_iceberg(spark, root, "id = 2")["deleted_rows"] == 1
    rows = sorted(
        r.id for r in IcebergCatalog("t", root).to_dataframe(spark).collect()
    )
    assert rows == [3]


def test_iceberg_rewrite_commutes_with_append_aborts_on_merge(spark, tmp_path):
    """Round-9 semantics: a compaction losing its race to a PURE APPEND
    commutes — the appended manifests carry into the replace and nothing
    is lost — while a concurrent MERGE (new delete files would target the
    rewritten rows at stale sequence numbers) still aborts typed."""
    from buzz_rust_spark.errors import BuzzCommitAbortedError
    from buzz_rust_spark.sources.iceberg import IcebergCatalog
    from buzz_rust_spark.sources.iceberg_writer import (
        merge_iceberg,
        rewrite_iceberg,
        write_iceberg,
    )

    root = str(tmp_path / "t")
    write_iceberg(spark.createDataFrame([(1,)], "id long"), root)
    write_iceberg(
        spark.createDataFrame([(2,)], "id long"), root, mode="append"
    )
    store = _conflicting_store(
        lambda: write_iceberg(
            spark.createDataFrame([(9,)], "id long"), root, mode="append"
        )
    )
    out = rewrite_iceberg(spark, root, store=store)
    assert out is not None and out["operation"] == "replace"
    rows = sorted(
        r.id for r in IcebergCatalog("t", root).to_dataframe(spark).collect()
    )
    assert rows == [1, 2, 9]  # the concurrent append survived the replace

    # a concurrent MERGE must still abort the rewrite
    store2 = _conflicting_store(
        lambda: merge_iceberg(
            spark, root,
            spark.createDataFrame([(2,)], "id long").coalesce(1),
            key_cols=["id"],
        )
    )
    with pytest.raises(BuzzCommitAbortedError):
        rewrite_iceberg(spark, root, store=store2)
    rows = sorted(
        r.id for r in IcebergCatalog("t", root).to_dataframe(spark).collect()
    )
    assert rows == [1, 2, 9]  # merge upserted, nothing lost


def test_delta_append_retry_reuses_staged_files(spark, tmp_path):
    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
    from buzz_rust_spark.sources.delta_writer import write_delta

    root = str(tmp_path / "t")
    n0 = len(_glob_parquet(root))
    write_delta(spark.createDataFrame([(0,)], "id long"), root)
    per_write = len(_glob_parquet(root)) - n0  # files one append stages
    store = _conflicting_store(
        lambda: write_delta(spark.createDataFrame([(1,)], "id long"), root)
    )
    before = set(_glob_parquet(root))
    v = write_delta(
        spark.createDataFrame([(2,)], "id long"), root, store=store
    )
    assert v == 2  # v1 went to the concurrent winner
    # winner's stage + OUR one stage — the retry wrote no new data file
    assert len(set(_glob_parquet(root)) - before) == 2 * per_write
    rows = sorted(
        r.id for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert rows == [0, 1, 2]

    # row tracking: the retried claim mints row ids from the state it
    # re-replayed, so its range starts above the winner's high water mark
    import json

    from buzz_rust_spark.sources.delta_catalog import replay_log
    from buzz_rust_spark.sources.logstore import LogStore

    rt = str(tmp_path / "rt")
    write_delta(
        spark.createDataFrame([(i,) for i in range(3)], "id long").coalesce(1),
        rt, configuration={"delta.enableRowTracking": "true"},
    )
    peer = {}

    def peer_append():
        write_delta(
            spark.createDataFrame([(10,), (11,)], "id long").coalesce(1), rt
        )
        peer["hwm"] = json.loads(
            replay_log(LogStore(rt)).domains["delta.rowTracking"]
        )["rowIdHighWaterMark"]

    assert write_delta(
        spark.createDataFrame([(20,), (21,), (22,)], "id long").coalesce(1),
        rt, store=_conflicting_store(peer_append),
    ) == 2
    assert peer["hwm"] == 4  # 3 + 2 rows: ids 0..4
    st = replay_log(LogStore(rt))
    ranges = sorted(
        (
            a["baseRowId"],
            a["baseRowId"] + json.loads(a["stats"])["numRecords"] - 1,
            a["defaultRowCommitVersion"],
        )
        for a in st.adds.values()
    )
    assert ranges == [(0, 2, 0), (3, 4, 1), (5, 7, 2)]
    assert all(b1 < a2 for (_, b1, _), (a2, _, _) in zip(ranges, ranges[1:]))
    assert json.loads(st.domains["delta.rowTracking"]) == {
        "rowIdHighWaterMark": 7
    }


def test_delta_create_race_retry_and_abort(spark, tmp_path):
    from buzz_rust_spark.errors import BuzzCommitAbortedError
    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
    from buzz_rust_spark.sources.delta_writer import write_delta

    root = str(tmp_path / "t")
    store = _conflicting_store(
        lambda: write_delta(spark.createDataFrame([(1,)], "id long"), root)
    )
    assert write_delta(
        spark.createDataFrame([(2,)], "id long"), root, store=store
    ) == 1
    rows = sorted(
        r.id for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert rows == [1, 2]

    root2 = str(tmp_path / "t2")
    store2 = _conflicting_store(
        lambda: write_delta(
            spark.createDataFrame([("x",)], "name string"), root2
        )
    )
    with pytest.raises(BuzzCommitAbortedError):
        write_delta(
            spark.createDataFrame([(2,)], "id long"), root2, store=store2
        )


def test_delta_delete_retry_vs_append_and_abort_vs_optimize(spark, tmp_path):
    """delete_delta (cow) retries through a concurrent append; a concurrent
    OPTIMIZE that rewrote the matched file is the typed abort."""
    from buzz_rust_spark.errors import BuzzCommitAbortedError
    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
    from buzz_rust_spark.sources.delta_writer import (
        delete_delta,
        optimize_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(spark.createDataFrame([(1,), (2,)], "id long"), root)
    store = _conflicting_store(
        lambda: write_delta(
            spark.createDataFrame([(3,)], "id long"), root
        )
    )
    assert delete_delta(spark, root, "id = 1", store=store) is not None
    rows = sorted(
        r.id for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert rows == [2, 3]

    # two small files → optimize compacts them → the delete's matched file
    # is gone from the live set → abort
    store2 = _conflicting_store(
        lambda: optimize_delta(spark, root, target_file_bytes=1 << 20)
    )
    with pytest.raises(BuzzCommitAbortedError):
        delete_delta(spark, root, "id = 2", store=store2)
    rows = sorted(
        r.id for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert rows == [2, 3]
    assert delete_delta(spark, root, "id = 2") is not None
    rows = sorted(
        r.id for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert rows == [3]


def test_delta_dv_delete_abort_on_concurrent_dv_change(spark, tmp_path):
    """Two DV deletes racing on the SAME file: the loser's bitmap was
    unioned from the old vector, so committing it would drop the winner's
    deletes — typed abort, then a re-run sees the fresh vector."""
    from buzz_rust_spark.errors import BuzzCommitAbortedError
    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
    from buzz_rust_spark.sources.delta_writer import delete_delta, write_delta

    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(i,) for i in range(6)], "id long").coalesce(1),
        root,
    )
    store = _conflicting_store(
        lambda: delete_delta(spark, root, "id = 0", mode="dv")
    )
    with pytest.raises(BuzzCommitAbortedError):
        delete_delta(spark, root, "id = 1", mode="dv", store=store)
    assert delete_delta(spark, root, "id = 1", mode="dv") is not None
    rows = sorted(
        r.id for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    )
    assert rows == [2, 3, 4, 5]


def test_delta_merge_retry_vs_append(spark, tmp_path):
    from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
    from buzz_rust_spark.sources.delta_writer import merge_delta, write_delta

    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), root
    )
    store = _conflicting_store(
        lambda: write_delta(
            spark.createDataFrame([(3, "c")], "id long, v string"), root
        )
    )
    assert merge_delta(
        spark, root,
        spark.createDataFrame([(2, "B"), (4, "d")], "id long, v string"),
        on=["id"], store=store,
    ) is not None
    got = {
        (r.id, r.v)
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    }
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}


def test_retry_exhaustion_propagates_conflict(spark, tmp_path):
    """With max_commit_retries=0 a lost race surfaces the RETRYABLE
    conflict unchanged (the legacy contract the racing tests above pin)."""
    from buzz_rust_spark.sources.iceberg_writer import write_iceberg

    root = str(tmp_path / "t")
    write_iceberg(spark.createDataFrame([(0,)], "id long"), root)
    store = _conflicting_store(
        lambda: write_iceberg(
            spark.createDataFrame([(1,)], "id long"), root, mode="append"
        )
    )
    with pytest.raises(BuzzCommitConflictError):
        write_iceberg(
            spark.createDataFrame([(2,)], "id long"), root, mode="append",
            store=store, max_commit_retries=0,
        )


def test_iceberg_delete_retry_on_cdc_table(spark, tmp_path):
    """Review regression: a delete over a CDC table (pre-existing equality
    deletes) losing its claim to a concurrent APPEND must RETRY and
    commit — the old refresh aborted on ANY eq delete in the fresh plan,
    including the pre-existing ones the delete already MOR-resolved."""
    from buzz_rust_spark.sources.iceberg import IcebergCatalog
    from buzz_rust_spark.sources.iceberg_writer import (
        delete_iceberg,
        merge_iceberg,
        write_iceberg,
    )

    root = str(tmp_path / "t")
    write_iceberg(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"), root
    )
    merge_iceberg(
        spark, root,
        spark.createDataFrame([(1, 100)], "id long, v long"),
        key_cols=["id"],
    )  # leaves equality deletes in the table
    store = _conflicting_store(
        lambda: write_iceberg(
            spark.createDataFrame([(3, 30)], "id long, v long"),
            root, mode="append",
        )
    )
    out = delete_iceberg(spark, root, "v = 20", store=store)
    assert out is not None and out["deleted_rows"] == 1
    got = sorted(
        (r.id, r.v)
        for r in IcebergCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == [(1, 100), (3, 30)]


def test_iceberg_empty_table_rewrite_commutes_with_first_append(
    spark, tmp_path
):
    """Advice regression: a full rewrite of an EMPTY table (externally
    created metadata, current-snapshot-id -1) races a FIRST append — the
    empty basis must be pinned like any other snapshot id so the append
    is NOTICED (carried by the append-commute path, or aborted for
    non-append commits) instead of silently wiped."""
    import json
    import os
    import uuid

    from buzz_rust_spark.errors import BuzzCommitAbortedError
    from buzz_rust_spark.sources.iceberg import IcebergCatalog
    from buzz_rust_spark.sources.iceberg_writer import (
        rewrite_iceberg,
        write_iceberg,
    )

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "metadata"))
    # the shape pyiceberg/external catalogs leave after CREATE TABLE with
    # no data: a metadata file, no snapshots, current-snapshot-id -1
    meta = {
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "location": root,
        "last-sequence-number": 0,
        "last-updated-ms": 0,
        "last-column-id": 1,
        "schemas": [{
            "type": "struct", "schema-id": 0,
            "fields": [
                {"id": 1, "name": "id", "required": False, "type": "long"}
            ],
        }],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "last-partition-id": 999,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {},
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
        "current-snapshot-id": -1,
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)

    store = _conflicting_store(
        lambda: write_iceberg(
            spark.createDataFrame([(1,)], "id long"), root, mode="append"
        )
    )
    # a PURE APPEND commutes with the empty replace (round-9 semantics);
    # the point of the pinned -1 basis is that the append is NOTICED and
    # carried instead of being silently wiped by an overwrite that
    # carries no prior manifests
    out = rewrite_iceberg(spark, root, store=store)
    assert out is not None
    rows = sorted(
        r.id for r in IcebergCatalog("t", root).to_dataframe(spark).collect()
    )
    assert rows == [1]
    # a non-append concurrent commit still aborts the empty replace
    from buzz_rust_spark.sources.iceberg_writer import delete_iceberg

    write_iceberg(
        spark.createDataFrame([(2,)], "id long"), root, mode="append"
    )
    store2 = _conflicting_store(lambda: delete_iceberg(spark, root, "id = 1"))
    with pytest.raises(BuzzCommitAbortedError):
        rewrite_iceberg(spark, root, store=store2)
    rows = sorted(
        r.id for r in IcebergCatalog("t", root).to_dataframe(spark).collect()
    )
    assert rows == [2]


def test_iceberg_create_race_does_not_drop_properties(spark, tmp_path):
    """Advice regression: losing a same-schema CREATE race while asking
    for creation properties must NOT silently retry as a property-less
    append (a raced matview bootstrap would commit rows without its
    cursor/spec markers).  A winner that already carries the requested
    properties lets the retry proceed."""
    import glob
    import json
    import os

    from buzz_rust_spark.errors import BuzzCommitAbortedError
    from buzz_rust_spark.sources.iceberg import IcebergCatalog
    from buzz_rust_spark.sources.iceberg_writer import write_iceberg

    root = str(tmp_path / "t")
    store = _conflicting_store(
        lambda: write_iceberg(spark.createDataFrame([(1,)], "id long"), root)
    )
    with pytest.raises(BuzzCommitAbortedError, match="creation properties"):
        write_iceberg(
            spark.createDataFrame([(2,)], "id long"), root, store=store,
            properties={"buzz.matview.cursor": "42"},
        )
    # the winner's table is unharmed
    rows = sorted(
        r.id for r in IcebergCatalog("t", root).to_dataframe(spark).collect()
    )
    assert rows == [1]

    # a winner that carries the SAME properties → retry commits fine
    root2 = str(tmp_path / "t2")
    store2 = _conflicting_store(
        lambda: write_iceberg(
            spark.createDataFrame([(1,)], "id long"), root2,
            properties={"buzz.matview.cursor": "42"},
        )
    )
    out = write_iceberg(
        spark.createDataFrame([(2,)], "id long"), root2, store=store2,
        properties={"buzz.matview.cursor": "42"},
    )
    assert out is not None
    meta = json.load(open(sorted(
        glob.glob(os.path.join(root2, "metadata", "v*.metadata.json"))
    )[-1]))
    assert meta["properties"]["buzz.matview.cursor"] == "42"
    rows = sorted(
        r.id for r in IcebergCatalog("t", root2).to_dataframe(spark).collect()
    )
    assert rows == [1, 2]


def test_partial_rewrite_commutes_with_append_aborts_on_delete(
    spark, tmp_path
):
    """The verdict's canonical maintenance-vs-ingest pair: a PARTITION-
    SCOPED compaction of one day losing its claim to a concurrent append
    (any partition — appended files are never in the rewrite's read set)
    commutes and carries the appended manifests; a concurrent DELETE
    still aborts typed (its position deletes reference files at sequence
    numbers the rewritten rows would escape)."""
    import datetime

    from buzz_rust_spark.errors import BuzzCommitAbortedError
    from buzz_rust_spark.sources.iceberg import IcebergCatalog
    from buzz_rust_spark.sources.iceberg_writer import (
        delete_iceberg,
        rewrite_iceberg,
        write_iceberg,
    )

    root = str(tmp_path / "t")
    rows = [
        (i, datetime.datetime(2024, 1, 1 + i % 2, i % 4), float(i))
        for i in range(8)
    ]
    write_iceberg(
        spark.createDataFrame(rows, "id long, ts timestamp_ntz, v double"),
        root, partition_by=["days(ts)"],
    )
    delete_iceberg(spark, root, "id = 0")  # some MOR debt to compact
    store = _conflicting_store(
        lambda: write_iceberg(
            spark.createDataFrame(
                [(100, datetime.datetime(2024, 1, 2, 1), 0.5)],
                "id long, ts timestamp_ntz, v double",
            ),
            root, mode="append",
        )
    )
    out = rewrite_iceberg(
        spark, root, partition_filter="ts_day = '2024-01-01'", store=store
    )
    assert out is not None and out["operation"] == "replace"
    got = sorted(
        r.id for r in IcebergCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == list(range(1, 8)) + [100]  # append survived the surgery

    store2 = _conflicting_store(lambda: delete_iceberg(spark, root, "id = 7"))
    with pytest.raises(BuzzCommitAbortedError):
        rewrite_iceberg(
            spark, root, partition_filter="ts_day = '2024-01-02'",
            store=store2,
        )
    got = sorted(
        r.id for r in IcebergCatalog("t", root).to_dataframe(spark).collect()
    )
    assert got == list(range(1, 7)) + [100]  # the delete landed, nothing lost
