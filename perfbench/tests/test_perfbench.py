"""Tests of the benchmark itself, on a tiny (TPC-H sf0.001-sized) variant of
every workload.  Each run starts a Spark session, so the whole file takes a
few minutes:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from oracle import Result, same  # noqa: E402
from run import Bench, loop, parse_args, tail, traced_op  # noqa: E402
from workloads import Op, Workload  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

# every metric the benchmark is specified to report, end to end and per layer
# (printed with its unit, or listed as dropped with a reason)
SPECIFIED_END_TO_END = [
    "setup_s", "query_p50_s", "query_tail_s", "queries_per_s",
    "commit_p50_s", "commit_tail_s", "failed_ratio", "peak_rss_mb",
]
SPECIFIED_PER_LAYER = [
    "models.parse_s", "plans.referenced_tables_s",
    "manifest.prune_s", "manifest.spark_jobs", "manifest.keep_ratio",
    "static_catalog.frame_s", "static_catalog.union_frames", "static_catalog.join_frames",
    "zonemap.prune_s", "zonemap.skip_ratio",
    "engine.plan_s", "engine.zoned_plan_s", "engine.plan_spark_jobs",
    "engine.execute_s", "engine.execute_stages", "engine.execute_tasks", "engine.failed_tasks",
    "delta_catalog.snapshot_s", "delta_catalog.commits_replayed", "delta_catalog.live_files",
    "delta_writer.commit_s", "delta_writer.checkpoints", "delta_writer.bytes_per_input_byte",
    "operators.d02_s", "operators.d03_s", "operators.d05_s", "operators.s01_s", "operators.t05_s",
    "session.start_s", "setup.datagen_s", "setup.warmup_s",
]
# the measured workloads, plus the ones kept runnable outside BENCHMARK.json
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["reduce_heavy", "delta_append_read"]


def bench(cwd: str, workload: str, trace: int, seed: int = 7) -> subprocess.CompletedProcess:
    return subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
            "--seconds", "2", "--trace", str(trace), "--scale", "0.001",
        ],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_metric(workload, trace):
    proc = bench(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result, context = json.loads(lines[-1]), json.loads(lines[-2])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert context["notes"]["failed_ratio"] == 0
    assert context["notes"]["self_check_caught_wrong_answer"] is True
    for key in (
        "nproc", "loadavg_start", "loadavg_end", "cpu_steal_share", "pyspark", "java", "seed", "inputs",
    ):
        assert key in context["context"]

    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in declared}
    for m in declared:
        assert metrics[m["name"]]["unit"] == m["unit"]
        assert isinstance(metrics[m["name"]]["value"], (int, float))
    dropped = context["notes"]["dropped_metrics"]
    for name in SPECIFIED_PER_LAYER if trace else SPECIFIED_END_TO_END:
        assert name in metrics or dropped.get(name), name


def test_without_the_package_it_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    proc = bench(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_oracle_catches_wrong_answers():
    good = Result(["k", "v"], [("a", 1.5), ("b", 2)])
    assert same(Result(["v", "k"], [(2, "b"), (1.5, "a")]), good)
    wrong = good.perturbed()
    assert len(wrong) == 2
    assert not any(same(w, good) for w in wrong)


def test_candidate_pair_oracle_equals_the_all_pairs_oracle(tmp_path):
    import datagen
    import duckdb

    sys.path.insert(0, ROOT)
    from buzz_rust_spark.queries import pipeline
    from workloads import PipelineOperators

    path = datagen.write_tables(5, 0.004, str(tmp_path), ["documents"])["documents"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    fast = sorted(con.execute(pipeline._SHINGLES_CTE + PipelineOperators.CANDIDATE_PAIRS).fetchall())
    assert fast and fast == sorted(con.execute(pipeline._TRUE_PAIRS).fetchall())


@pytest.mark.parametrize("block", [2, 5, 9, 10])
def test_two_blocks_trace_every_kind_once(block):
    traced = [i % block for i in range(2 * block) if traced_op(i, block)]
    assert sorted(traced) == list(range(block))


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    value, pct, n = tail([float(i) for i in range(1, 41)])
    assert (value, pct, n) == (30.0, 75.0, 40)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


class _Sleeper(Workload):
    """Three kinds of operation that only sleep, for testing the loop."""

    name = "sleeper"
    block_kinds = ["a", "b", "c"]

    def make_op(self, kind, rng):
        return Op(kind)

    def run(self, op):
        import time

        time.sleep(0.01)


def test_loop_measures_whole_blocks_only(tmp_path):
    bench = Bench(parse_args(["--workload", "sleeper", "--seed", "1", "--seconds", "0.2"]))
    bench.work = str(tmp_path)
    wl = _Sleeper(bench)
    plain, traced, wall = loop(bench, wl, wl.ops(), 0.2)
    assert traced == [] and len(plain) % 3 == 0 and len(plain) > 3
    assert [r.op.kind for r in plain[:6]] == ["a", "b", "c", "a", "b", "c"]
    # no block is started that is expected to end after the deadline
    assert wall <= 0.2 + 0.05
    # a deadline shorter than one operation still measures one whole block
    plain, _, _ = loop(bench, wl, wl.ops(), 0.0)
    assert [r.op.kind for r in plain] == ["a", "b", "c"]
