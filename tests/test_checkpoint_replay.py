"""A Delta commit that checkpoints replays the log once.

The checkpoint of a new version is the state the commit was based on
with the commit's own actions applied, so an append that checkpoints
reads the log exactly as often as one that does not, and its checkpoint
holds what a JSON-only replay of the same log gives.

Kept outside the ``test_delta*`` modules (all ``slow``) so the default
suite runs it."""

from __future__ import annotations

import os
import shutil

from buzz_rust_spark.sources import delta_writer
from buzz_rust_spark.sources.delta_catalog import replay_log
from buzz_rust_spark.sources.logstore import LogStore


def test_checkpointing_append_replays_once(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    log = os.path.join(root, "_delta_log")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    # row tracking and in-commit timestamps make the claim add actions
    # (domainMetadata, commitInfo) the checkpoint must carry
    conf = {
        "delta.enableRowTracking": "true",
        "delta.enableInCommitTimestamps": "true",
    }
    for v in range(3):
        delta_writer.write_delta(
            df,
            root,
            checkpoint_interval=4,
            configuration=conf if v == 0 else None,
            txn_app_id="app",
            txn_version=v,
        )
    calls = []
    real = delta_writer.replay_log

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(delta_writer, "replay_log", counting)
    assert delta_writer.write_delta(
        df, root, checkpoint_interval=4, txn_app_id="app", txn_version=3
    ) == 3
    assert os.path.exists(os.path.join(log, f"{3:020d}.checkpoint.parquet"))
    assert len(calls) == 1
    calls.clear()
    assert delta_writer.write_delta(df, root, checkpoint_interval=4) == 4
    assert len(calls) == 1  # a plain append: the same single replay

    # the checkpoint holds what the JSON commits alone replay to
    json_only = str(tmp_path / "json_only")
    shutil.copytree(root, json_only)
    jlog = os.path.join(json_only, "_delta_log")
    for name in os.listdir(jlog):
        if ".checkpoint." in name or name == "_last_checkpoint":
            os.remove(os.path.join(jlog, name))
    via_cp = replay_log(LogStore(root), 3)
    via_json = replay_log(LogStore(json_only), 3)
    assert via_cp.adds == via_json.adds
    assert via_cp.meta == via_json.meta
    assert via_cp.protocol == via_json.protocol
    assert via_cp.txns == via_json.txns == {"app": 3}
    assert via_cp.domains == via_json.domains
    assert "delta.rowTracking" in via_cp.domains
