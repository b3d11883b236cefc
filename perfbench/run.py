"""Buzz benchmark: one closed-loop client on ``local[nproc]``.

    python3 perfbench/run.py --workload catalog_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The script generates its inputs from
``--seed`` under ``.perfbench_work/`` in the checkout, starts one Spark
session, sets the workload up three times (the median is ``setup.datagen_s``),
warms it up (each code path once, then the workload's ``settle_blocks``
whole blocks), then submits whole blocks of operations, one operation after
another, while the next block is expected to end within ``--seconds``, so
every run measures the same mix of operation kinds.  Every result is
checked against an oracle outside the timed span.

Output: progress and context lines, then as the LAST line one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` alternates untraced operations (the
tracing-overhead baseline) with operations that record spans around every
public entry point in ``tracing.ENTRY_POINTS``, and reports per-layer
metrics.
Spans are written to ``.perfbench_work/spans-<workload>-<seed>.json``.

Exits non-zero without a result line when the package is not in the
checkout or set-up fails.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
JVM_MEMORY = "1g"
# Spark's planner is large JVM code that the JIT compiles over the first
# minute of queries.  Lower compile thresholds reach compiled code in a few
# blocks, so the settle blocks of the warm-up end where latency levels off
# and a run measures the program rather than the compiler's progress.
JIT_OPTIONS = "-XX:CompileThresholdScaling=0.1"

# specified metrics that are not reported as benchmark metrics, and why
DROPPED = {
    "failed_ratio": "reported as failed/attempted in the result line and on the context "
    "line; not a benchmark metric because it is 0 on a correct run",
    "commit_p50_s": "moved to per-layer delta_writer.commit_p50_s: only catalog_mix commits",
    "commit_tail_s": "moved to per-layer delta_writer.commit_tail_s: only catalog_mix commits",
}


@dataclass
class Record:
    op: object
    latency: float
    result: object
    error: str | None


class Bench:
    """Run-scoped state shared by the workload, the loop and the oracle."""

    def __init__(self, args):
        self.seed = args.seed
        self.scale = args.scale
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.spark = None
        self.oracle = None
        self.recorder = None


# -- host and process facts ---------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat.  Steal is
    time this machine's virtual CPUs were ready but another guest ran."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile, samples)``; the maximum when there are ten or
    fewer samples."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def hd_quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a mean of all order
    statistics weighted by a Beta((n+1)q, (n+1)(1-q)) density, which is
    steadier on a few dozen samples than one or two order statistics."""
    import numpy as np

    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    if n == 1:
        return float(xs[0])
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    t = (np.arange(100_000) + 0.5) / 100_000  # midpoints avoid the density's poles
    cdf = np.concatenate(([0.0], np.cumsum(np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t)))))
    cdf /= cdf[-1]
    weights = np.diff(cdf[np.round(np.arange(n + 1) / n * 100_000).astype(int)])
    return float(weights @ xs)


def p90(values: list[float]) -> float:
    return hd_quantile(values, 0.9)


# -- Spark lifecycle ----------------------------------------------------------


def start_spark(work: str):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(nproc())
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_MEMORY
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    from buzz_rust_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            # a pre-touched fixed-size heap keeps peak RSS independent of
            # when the collector chooses to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{JVM_MEMORY} -XX:+AlwaysPreTouch {JIT_OPTIONS}"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


# -- the loop -----------------------------------------------------------------


def run_op(bench: Bench, wl, op) -> Record:
    wl.before(op)
    rec = bench.recorder
    root = None
    if rec is not None:
        rec.op = len(rec.ops)
        rec.ops.append(op)
        root = rec.open("op", kind=op.kind)
    t0 = time.perf_counter()
    try:
        result, error = wl.run(op), None
    except Exception as exc:  # a failed operation is counted, not fatal
        result, error = None, f"{type(exc).__name__}: {exc}"[:500]
    latency = time.perf_counter() - t0
    if rec is not None:
        rec.close(root)
        rec.op = None
    if error is None:
        wl.after(op, result)
    return Record(op, latency, result, error)


def traced_op(i: int, block: int) -> bool:
    """Every other operation is traced, and a kind traced in one block is
    untraced in the next, so two blocks trace every kind once.  With an odd
    block length plain alternation does that; with an even one the pattern
    shifts by one operation each block."""
    shift = i // block if block % 2 == 0 else 0
    return (i + shift) % 2 == 1


def loop(bench: Bench, wl, ops, seconds: float, recorder=None):
    """Closed loop: one operation after another, in whole blocks, for as long
    as the next block is expected (at the mean block time so far) to end
    within ``seconds``; at least one block.

    With a ``recorder``, traced and untraced operations interleave (see
    ``traced_op``), so the tracing overhead compares samples from the same
    stretch of the run and the same mix of kinds; the loop then runs at
    least the two blocks that trace every kind once.  Returns
    ``(untraced, traced, wall seconds)``."""
    plain: list[Record] = []
    traced: list[Record] = []
    block = len(wl.block_kinds)
    min_ops = block if recorder is None else 2 * block
    start = time.perf_counter()
    i = 0
    while True:
        tracing_on = recorder is not None and traced_op(i, block)
        if tracing_on:
            recorder.install()
            bench.recorder = recorder
        try:
            (traced if tracing_on else plain).append(run_op(bench, wl, next(ops)))
        finally:
            if tracing_on:
                recorder.uninstall()
                bench.recorder = None
        i += 1
        if i % block == 0:
            wall = time.perf_counter() - start
            if i >= min_ops and wall * (1 + block / i) > seconds:
                return plain, traced, wall


def verify(wl, records: list[Record]) -> int:
    """Oracle check of every record; returns the number of failures."""
    failed = 0
    for r in records:
        ok = r.error is None
        if ok:
            try:
                ok = wl.check(r.op, r.result)
            except Exception:
                traceback.print_exc()
                ok = False
        if not ok:
            failed += 1
            print(f"FAILED {wl.name}/{r.op.kind}: {r.error or 'wrong result'}", file=sys.stderr)
    return failed


def self_check(wl, records: list[Record]) -> bool:
    """A deliberately wrong answer must be caught by the same oracle."""
    from oracle import Result

    for r in records:
        if isinstance(r.result, Result) and r.error is None:
            wrong = r.result.perturbed()
            if len(wrong) == 2:
                return not any(wl.check(r.op, w) for w in wrong)
    return False


# -- metrics ------------------------------------------------------------------


def end_to_end(records: list[Record], wall: float) -> tuple[dict, dict]:
    queries = [r.latency for r in records if r.op.query and r.error is None]
    t_value, t_pct, t_n = tail(queries)
    metrics = {
        "query_p50_s": (hd_quantile(queries, 0.5), "s"),
        # a run completes 8-15 queries, too few for ten samples beyond a
        # high percentile; p90 is the reported tail, and the percentile with
        # ten samples beyond it goes to the notes
        "query_tail_s": (p90(queries), "s"),
        "queries_per_s": (len(queries) / wall, "1/s"),
    }
    kinds: dict[str, list[float]] = defaultdict(list)
    for r in records:
        if r.error is None:
            kinds[r.op.kind].append(r.latency)
    notes = {
        "query_tail_s": {"percentile": 90, "samples": len(queries)},
        "query_ten_beyond": {"value": t_value, "percentile": round(t_pct, 2), "samples": t_n},
        "p50_by_kind_s": {k: statistics.median(v) for k, v in sorted(kinds.items())},
    }
    commits = [r.latency for r in records if not r.op.query and r.error is None]
    if commits:
        c_value, c_pct, c_n = tail(commits)
        notes["commit_p50_s"] = hd_quantile(commits, 0.5)
        notes["commit_tail_s"] = p90(commits)
        notes["commit_ten_beyond"] = {"value": c_value, "percentile": round(c_pct, 2), "samples": c_n}
    return metrics, notes


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(rec, wl, records: list[Record], baseline: list[Record]) -> tuple[dict, dict]:
    """Per-layer metrics from the spans of the traced operations."""
    import tracing

    kids = rec.children()
    spans = rec.spans
    n_ops = len(rec.ops)
    n_queries = sum(1 for op in rec.ops if op.query) or 1

    per_op_time: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    per_op_self: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    jobs: dict[str, int] = defaultdict(int)
    exec_counts = defaultdict(int)
    frames = defaultdict(int)
    listed = kept = candidates = survivors = 0
    for i, s in enumerate(spans):
        dur = s.end - s.start
        per_op_time[s.name][s.op] += dur
        per_op_self[s.name][s.op] += rec.self_time(i, kids)
        sub = list(rec.subtree(i, kids))
        if s.name in ("manifest.prune", "engine.plan"):
            jobs[s.name] += sum(spans[j].info.get("jobs", 0) for j in sub)
        if s.name == "engine.execute":
            for key in ("stages", "tasks", "failed_tasks"):
                exec_counts[key] += sum(spans[j].info.get(key, 0) for j in sub)
        if s.name == "static_catalog.to_dataframe":
            pruning = sum(
                spans[k].end - spans[k].start
                for k in kids.get(i, ())
                if spans[k].name in ("manifest.prune", "zonemap.prune")
            )
            per_op_time["static_catalog.frame_s"][s.op] += dur - pruning
        if s.name == "static_catalog.frame":
            cat, files = s.info["args"][0], s.info["args"][2]
            groups = {f.partitions for f in files}
            strategy = cat.attach_strategy
            if strategy == "auto":
                strategy = "union" if len(groups) <= cat.union_max_groups else "join"
            frames["empty" if not files else strategy] += 1
        if s.name == "manifest.prune":
            listed += len(s.info["args"][1])
            kept += len(s.info["result"])
        if s.name == "zonemap.prune":
            candidates += len(s.info["args"][0].files)
            survivors += len(s.info["result"].files)

    def t(name: str) -> float:
        return _median(list(per_op_time[name].values()))

    m = {
        "models.parse_s": (t("models.parse"), "s"),
        "plans.referenced_tables_s": (t("plans.referenced_tables"), "s"),
        "manifest.prune_s": (t("manifest.prune"), "s"),
        "manifest.spark_jobs": (jobs["manifest.prune"] / n_queries, "count"),
        "manifest.keep_ratio": (kept / listed if listed else 0.0, "ratio"),
        "static_catalog.frame_s": (t("static_catalog.frame_s"), "s"),
        "static_catalog.union_frames": (frames["union"] / n_queries, "count"),
        "static_catalog.join_frames": (frames["join"] / n_queries, "count"),
        "zonemap.prune_s": (t("zonemap.prune"), "s"),
        "zonemap.skip_ratio": (1 - survivors / candidates if candidates else 0.0, "ratio"),
        "engine.plan_s": (t("engine.plan"), "s"),
        "engine.zoned_plan_s": (t("engine.zoned_plan"), "s"),
        "engine.plan_spark_jobs": (jobs["engine.plan"] / n_queries, "count"),
        "engine.execute_s": (t("engine.execute"), "s"),
        "engine.execute_stages": (exec_counts["stages"] / n_queries, "count"),
        "engine.execute_tasks": (exec_counts["tasks"] / n_queries, "count"),
        "engine.failed_tasks": (exec_counts["failed_tasks"] / n_queries, "count"),
        "delta_catalog.snapshot_s": (t("delta_catalog.snapshot"), "s"),
        "delta_writer.commit_s": (t("delta_writer.commit"), "s"),
    }
    m["catalog.plan_s"] = (m["manifest.prune_s"][0] + m["static_catalog.frame_s"][0], "s")
    m.update(wl.layer_metrics(rec))
    for short, kind in (
        ("d02", "d02_ngram_jaccard"),
        ("d03", "d03_minhash_lsh"),
        ("d05", "d05_embedding_neardup"),
        ("s01", "s01_ann_bruteforce"),
        ("t05", "t05_top_ngrams"),
    ):
        lat = [r.latency for r in records if r.op.kind == kind and r.error is None]
        m[f"operators.{short}_s"] = (_median(lat), "s")
    for name in ["op", *tracing.ENTRY_POINTS]:
        m[f"self.{name}_s"] = (_median(list(per_op_self[name].values())), "s")

    base = [r.latency for r in baseline if r.op.query and r.error is None]
    traced = [r.latency for r in records if r.op.query and r.error is None]
    m["trace.overhead_s"] = (_median(traced) - _median(base), "s")
    commits = [r.latency for r in baseline if not r.op.query and r.error is None]
    m["delta_writer.commit_p50_s"] = (_median(commits), "s")
    m["delta_writer.commit_tail_s"] = (p90(commits) if commits else 0.0, "s")

    exercised = {s.name for s in spans}
    notes = {
        "ops_traced": n_ops,
        "spans": len(spans),
        "not_exercised": sorted(set(tracing.ENTRY_POINTS) - exercised),
        "planning_share": {
            "manifest.prune_s+static_catalog.frame_s": m["catalog.plan_s"][0],
            "engine.execute_s": m["engine.execute_s"][0],
            "traced_query_p50_s": _median(traced),
        },
    }
    return m, notes


# -- main ---------------------------------------------------------------------


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=None,
        help="override every workload's TPC-H-style scale factor (tests use 0.001)",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "buzz_rust_spark", "__init__.py")):
        print(f"buzz_rust_spark is not in the checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import buzz_rust_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(buzz_rust_spark.__file__))) != ROOT:
        print("buzz_rust_spark was imported from outside the checkout", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    import pyspark

    from oracle import DuckOracle

    bench = Bench(args)
    os.makedirs(bench.work, exist_ok=True)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(),
        "loadavg_start": loadavg(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "loop": "closed, 1 client",
    }
    steal0, total0 = cpu_ticks()
    t0 = time.perf_counter()
    bench.spark = start_spark(bench.work)
    session_s = time.perf_counter() - t0
    context["master"] = bench.spark.sparkContext.master
    context["java"] = bench.spark.sparkContext._jvm.System.getProperty("java.version")
    bench.oracle = DuckOracle()
    try:
        wl = WORKLOADS[args.workload](bench)
        datagen_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            context["inputs"] = wl.build()
            datagen_s.append(time.perf_counter() - t0)
        context["inputs"]["scale"] = wl.scale

        t0 = time.perf_counter()
        warm = [run_op(bench, wl, op) for op in wl.warmup_ops()]
        ops = wl.ops()
        warm += [run_op(bench, wl, next(ops)) for _ in range(wl.settle_blocks * len(wl.block_kinds))]
        warmup_s = time.perf_counter() - t0
        setup = {
            "session.start_s": session_s,
            "setup.datagen_s": statistics.median(datagen_s),
            "setup.warmup_s": warmup_s,
        }
        failed = verify(wl, warm)

        recorder = None
        if args.trace:
            import tracing

            recorder = tracing.Recorder(bench.spark.sparkContext)
        baseline, records, wall = loop(bench, wl, ops, args.seconds, recorder)
        if recorder is not None:
            recorder.resolve_spark_counters()
        else:
            baseline, records = [], baseline
        failed += verify(wl, baseline) + verify(wl, records)
        checked = self_check(wl, warm + baseline + records)
        attempted = len(warm) + len(baseline) + len(records)

        if args.trace:
            metrics, notes = per_layer(recorder, wl, records, baseline)
            metrics.update({k: (v, "s") for k, v in setup.items()})
            spans_path = os.path.join(bench.work, f"spans-{args.workload}-{args.seed}.json")
            with open(spans_path, "w") as fh:
                json.dump(recorder.dump(), fh, default=str)
            notes["spans_file"] = os.path.relpath(spans_path, ROOT)
        else:
            metrics, notes = end_to_end(records, wall)
            metrics["setup_s"] = (sum(setup.values()), "s")
            pids = [os.getpid(), jvm_pid()]
            metrics["peak_rss_mb"] = (sum(vm_hwm_mb(p) for p in pids if p), "MB")
        notes.update(setup)
        notes["ops"] = len(records)
        notes["failed_ratio"] = failed / attempted
        notes["self_check_caught_wrong_answer"] = checked
        notes["dropped_metrics"] = DROPPED
    finally:
        bench.oracle.close()
        stop_spark(bench.spark)
    context["loadavg_end"] = loadavg()
    steal1, total1 = cpu_ticks()
    context["cpu_steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
    print(json.dumps({"context": context, "notes": notes}, default=str))
    result = {
        "correct": failed == 0 and checked,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
