"""Round-11 Delta writer-feature lifts: timestampNtz, vacuumProtocolCheck,
inCommitTimestamp, rowTracking.  All feature-gated per PROTOCOL.md; the
stateful obligations (monotonic commit timestamps, baseRowId allocation +
rowIdHighWaterMark domain metadata) apply centrally in
``_claim_commit → _commit_protocol_extensions`` so every commit path —
write, merge, delete, optimize, properties, add_files — satisfies them."""

from __future__ import annotations

import json
import os
from glob import glob

import pytest
# Long-running integration suite: deselected by default (see pyproject
# [tool.pytest.ini_options]); run with `pytest -m ""` to include it.
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from buzz_rust_spark.errors import BuzzNotImplementedError
from buzz_rust_spark.sources.delta_catalog import DeltaCatalog
from buzz_rust_spark.sources.delta_writer import (
    delete_delta,
    merge_delta,
    optimize_delta,
    set_delta_properties,
    write_delta,
)


def _commits(root):
    out = []
    for p in sorted(glob(os.path.join(root, "_delta_log", "*.json"))):
        with open(p) as fh:
            out.append([json.loads(line) for line in fh if line.strip()])
    return out


def test_timestamp_ntz_feature(spark, tmp_path):
    """A TIMESTAMP_NTZ column mints the reader+writer feature pair at
    create, and the catalog (which lists timestampNtz as supported)
    round-trips the values."""
    root = str(tmp_path / "t")
    df = spark.sql(
        "SELECT id AS k, TIMESTAMP_NTZ'2024-03-01T12:34:56' AS ts"
        " FROM RANGE(3)"
    )
    write_delta(df, root)
    proto = next(
        a["protocol"] for a in _commits(root)[0] if "protocol" in a
    )
    assert proto["minReaderVersion"] == 3
    assert proto["readerFeatures"] == ["timestampNtz"]
    assert "timestampNtz" in proto["writerFeatures"]
    got = DeltaCatalog("t", root).to_dataframe(spark)
    assert got.schema["ts"].dataType.typeName() == "timestamp_ntz"
    assert got.count() == 3
    # appends keep working against the feature protocol
    write_delta(df, root, mode="append")
    assert DeltaCatalog("t", root).to_dataframe(spark).count() == 6


def test_vacuum_protocol_check_feature(spark, tmp_path):
    """A (foreign) table listing vacuumProtocolCheck in both feature lists
    is read, written, and vacuumed — the feature's only obligation is
    that VACUUM consults the protocol first, which the log replay does
    by construction."""
    from buzz_rust_spark.sources.delta_writer import vacuum_delta

    root = str(tmp_path / "t")
    write_delta(spark.createDataFrame([(1, "a")], "k long, v string"), root)
    # hand-upgrade to the v7/3 feature form an external writer would leave
    lp = os.path.join(root, "_delta_log", f"{0:020d}.json")
    acts = [json.loads(line) for line in open(lp) if line.strip()]
    for a in acts:
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["vacuumProtocolCheck"],
                "writerFeatures": ["vacuumProtocolCheck"],
            }
    open(lp, "w").write("".join(json.dumps(a) + "\n" for a in acts))
    assert DeltaCatalog("t", root).to_dataframe(spark).count() == 1
    write_delta(
        spark.createDataFrame([(2, "b")], "k long, v string"), root,
        mode="overwrite",
    )
    removed = vacuum_delta(root, retention_hours=0.0)
    assert removed  # the overwritten file left the snapshot and vacuumed
    assert DeltaCatalog("t", root).to_dataframe(spark).count() == 1


def test_in_commit_timestamps(spark, tmp_path):
    """ICT tables: every commit's FIRST action is commitInfo with a
    STRICTLY MONOTONIC inCommitTimestamp, across every commit path;
    enabling later upgrades the protocol and records the enablement
    provenance in the same transaction; DESCRIBE HISTORY prefers the
    recorded timestamps."""
    from buzz_rust_spark.sources.metadata_tables import delta_history

    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        root,
        configuration={"delta.enableInCommitTimestamps": "true"},
    )
    write_delta(
        spark.createDataFrame([(3, "c")], "k long, v string"), root,
        mode="append",
    )
    merge_delta(
        spark, root,
        spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string"),
        ["k"],
    )
    delete_delta(spark, root, "k = 1")
    commits = _commits(root)
    icts = []
    for acts in commits:
        assert "commitInfo" in acts[0], "commitInfo must be FIRST"
        icts.append(int(acts[0]["commitInfo"]["inCommitTimestamp"]))
    assert icts == sorted(icts) and len(set(icts)) == len(icts)
    hist = {
        r["version"]: r["timestamp_ms"]
        for r in delta_history(spark, root).collect()
    }
    assert [hist[v] for v in sorted(hist)] == icts

    # enabling LATER: protocol upgrade + enablement provenance, and the
    # enabling commit itself carries commitInfo
    root2 = str(tmp_path / "t2")
    write_delta(
        spark.createDataFrame([(1, "a")], "k long, v string"), root2
    )
    v = set_delta_properties(
        root2, {"delta.enableInCommitTimestamps": "true"}
    )
    acts = _commits(root2)[v]
    assert "commitInfo" in acts[0]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert "inCommitTimestamp" in proto["writerFeatures"]
    meta = next(a["metaData"] for a in acts if "metaData" in a)
    conf = meta["configuration"]
    assert conf["delta.inCommitTimestampEnablementVersion"] == str(v)
    assert int(conf["delta.inCommitTimestampEnablementTimestamp"]) == int(
        acts[0]["commitInfo"]["inCommitTimestamp"]
    )


def test_row_tracking(spark, tmp_path):
    """rowTracking tables: every fresh add carries baseRowId (ranges never
    overlapping, high water mark advancing via domainMetadata) and
    defaultRowCommitVersion; DV deletes PRESERVE the original baseRowId
    (surviving rows keep their ids); checkpoints carry the domain state
    and the add fields; enabling later refuses typed."""
    root = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k long, v string"
        ).coalesce(2),
        root,
        configuration={"delta.enableRowTracking": "true"},
    )
    write_delta(
        spark.createDataFrame([(10, "x"), (11, "y")], "k long, v string")
        .coalesce(1),
        root, mode="append",
    )
    merge_delta(
        spark, root,
        spark.createDataFrame([(3, "Z"), (20, "new")], "k long, v string"),
        ["k"],
    )

    def live_and_hwm():
        from buzz_rust_spark.sources.delta_catalog import replay_log
        from buzz_rust_spark.sources.logstore import LogStore

        st = replay_log(LogStore(root))
        dom = st.domains
        hwm = json.loads(dom["delta.rowTracking"])["rowIdHighWaterMark"]
        return st.adds, hwm

    live, hwm = live_and_hwm()
    ranges = []
    for rel, add in live.items():
        assert add.get("baseRowId") is not None, rel
        assert add.get("defaultRowCommitVersion") is not None, rel
        n = json.loads(add["stats"])["numRecords"]
        ranges.append((add["baseRowId"], add["baseRowId"] + n - 1))
    ranges.sort()
    for (a1, b1), (a2, b2) in zip(ranges, ranges[1:]):
        assert b1 < a2, "row id ranges must not overlap"
    assert hwm >= max(b for _, b in ranges)

    # DV delete re-adds the SAME file with its baseRowId preserved
    before = {rel: add.get("baseRowId") for rel, add in live.items()}
    delete_delta(spark, root, "k = 5", mode="dv")
    live2, hwm2 = live_and_hwm()
    for rel, add in live2.items():
        if rel in before and (add.get("deletionVector") or {}).get(
            "storageType"
        ):
            assert add["baseRowId"] == before[rel]
    assert hwm2 == hwm  # no new rows, no advance

    # optimize re-mints fresh non-overlapping ids past the mark
    optimize_delta(spark, root, target_file_bytes=1 << 30)
    live3, hwm3 = live_and_hwm()
    for add in live3.values():
        assert add["baseRowId"] > hwm2
    assert hwm3 > hwm2

    # checkpoint carries the domain state + the add fields
    from buzz_rust_spark.sources.delta_writer import (
        _log_state,
        _write_checkpoint,
    )

    log_dir = os.path.join(root, "_delta_log")
    last = max(
        int(os.path.basename(p).split(".")[0])
        for p in glob(os.path.join(log_dir, "*.json"))
    )
    _write_checkpoint(log_dir, _log_state(log_dir, last))
    import pyarrow.parquet as pq

    cp = pq.read_table(
        os.path.join(log_dir, f"{last:020d}.checkpoint.parquet")
    ).to_pylist()
    doms = [r["domainMetadata"] for r in cp if r.get("domainMetadata")]
    assert doms and doms[0]["domain"] == "delta.rowTracking"
    cp_adds = [r["add"] for r in cp if r.get("add")]
    assert all(a["baseRowId"] is not None for a in cp_adds)

    # table stays readable and correct throughout
    got = {
        r["k"]: r["v"]
        for r in DeltaCatalog("t", root).to_dataframe(spark).collect()
    }
    assert got[3] == "Z" and got[20] == "new" and 5 not in got
    assert len(got) == 12

    # enabling later refuses typed (no backfill)
    root2 = str(tmp_path / "t2")
    write_delta(spark.createDataFrame([(1, "a")], "k long, v string"), root2)
    with pytest.raises(BuzzNotImplementedError, match="CREATE only"):
        set_delta_properties(root2, {"delta.enableRowTracking": "true"})
