"""The benchmark's workloads: seeded inputs, an operation schedule, and an
oracle for every result.

A workload hands the loop *blocks* of operations.  Each block holds the same
operation kinds in the same order; the seed draws their parameters (which
partitions, ranges, batches).  The loop runs whole blocks, so a run
measures the same mix of kinds whatever the seed.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import datagen
from oracle import Result, same


@dataclass
class Op:
    kind: str
    payload: object = None
    query: bool = True  # False for a Delta commit
    atol: float = 0.0
    expected: object = None  # filled in before the timer starts
    info: dict = field(default_factory=dict)


def spark_schema(path: str):
    """Declared Spark schema from a parquet footer (no Spark job)."""
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import StructField, StructType

    return StructType(
        [
            StructField(f.name, from_arrow_type(f.type, prefer_timestamp_ntz=True), True)
            for f in pq.read_schema(path)
        ]
    )


def buzz_json(steps: list[dict], catalogs: list[dict], zones: int = 1) -> str:
    return json.dumps({"steps": steps, "catalogs": catalogs, "capacity": {"zones": zones}})


def cte_sql(steps: list[dict], base: dict[str, str] | None = None) -> str:
    """A chain of Buzz steps as one DuckDB statement: every step but the
    last becomes a CTE named after the step; ``base`` adds leading CTEs."""
    ctes = [f"{name} AS ({sql})" for name, sql in (base or {}).items()]
    ctes += [f"{s['name']} AS ({s['sql']})" for s in steps[:-1]]
    return f"WITH {', '.join(ctes)} {steps[-1]['sql']}"


class Workload:
    name = ""
    why = ""
    scale = 0.1
    block_kinds: list[str] = []
    warmup_kinds: list[str] = []  # empty: warm up with one block
    # whole blocks after the warm-up kinds, before the timed loop, until
    # latency levels off as the JIT compiles the hot paths
    settle_blocks = 1

    def __init__(self, bench):
        self.bench = bench
        self.spark = bench.spark
        self.dir = os.path.join(bench.work, self.name)
        self.scale = bench.scale if bench.scale is not None else self.scale

    def build(self) -> dict:
        """Idempotent data set-up; returns the input sizes."""
        raise NotImplementedError

    def make_op(self, kind: str, rng: np.random.Generator) -> Op:
        raise NotImplementedError

    def warmup_ops(self) -> list[Op]:
        rng = np.random.default_rng([self.bench.seed, 1])
        return [self.make_op(k, rng) for k in self.warmup_kinds or self.block_kinds]

    def ops(self):
        rng = np.random.default_rng([self.bench.seed, 2])
        while True:
            for kind in self.block_kinds:
                yield self.make_op(kind, rng)

    def before(self, op: Op) -> None:
        """Untimed preparation of ``op`` (inputs, expected answer)."""

    def run(self, op: Op):
        raise NotImplementedError

    def after(self, op: Op, result) -> None:
        """Untimed bookkeeping once ``op`` succeeded."""

    def check(self, op: Op, result) -> bool:
        raise NotImplementedError

    def layer_metrics(self, rec) -> dict:
        """Workload-observed per-layer metrics of the traced phase."""
        return {
            "delta_catalog.commits_replayed": (0.0, "count"),
            "delta_catalog.live_files": (0.0, "count"),
            "delta_writer.checkpoints": (0.0, "count"),
            "delta_writer.bytes_per_input_byte": (0.0, "ratio"),
        }


# ---------------------------------------------------------------------------


class CatalogMix(Workload):
    name = "catalog_mix"
    why = "seeded partition filters over 83 monthly files and a growing Delta table: catalog planning dominates"
    scale = 0.02
    # Static kinds are kind:variant pairs; the variant picks the map/reduce
    # SQL, and "revenue" reads the partition column, so its frames must
    # attach partition values.  "append" and "read" are the Delta kinds of
    # ``DeltaAppendRead``, which this workload runs beside the static ones.
    # Cheap and expensive kinds alternate.
    block_kinds = [
        "month:flags",
        "none:revenue",
        "append",
        "stats:flags",
        "read",
        "empty:flags",
        "year:revenue",
        "append",
        "zoned:revenue",
        "read",
    ]
    # one operation per code path (join attach, union attach with partition
    # values, zone maps, empty, zoned, Delta commit and read)
    warmup_kinds = [
        "none:revenue", "year:revenue", "stats:flags", "empty:flags", "zoned:revenue",
        "append", "read",
    ]
    DELTA_KINDS = ("append", "read")
    # a run commits five to seven appends (one cold, two settling, two per
    # timed block); a checkpoint every third commit puts one in the settle
    # blocks and one in the first timed block, on an append the traced run
    # records
    DELTA_CHECKPOINT_INTERVAL = 3
    MAPS = {
        "flags": (
            "SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, SUM(l_quantity) AS qty,"
            " SUM(l_extendedprice) AS price FROM lineitem GROUP BY l_returnflag, l_linestatus",
            "SELECT l_returnflag, l_linestatus, SUM(cnt) AS cnt, SUM(qty) AS qty,"
            " SUM(price) AS price FROM li_map GROUP BY l_returnflag, l_linestatus"
            " ORDER BY l_returnflag, l_linestatus",
        ),
        "revenue": (
            "SELECT ship_month, SUM(l_extendedprice * (1 - l_discount)) AS revenue,"
            " COUNT(*) AS cnt FROM lineitem GROUP BY ship_month",
            "SELECT SUBSTR(ship_month, 1, 4) AS ship_year, SUM(revenue) AS revenue,"
            " SUM(cnt) AS cnt FROM li_map GROUP BY SUBSTR(ship_month, 1, 4) ORDER BY ship_year",
        ),
    }
    ZONES = 4

    def build(self) -> dict:
        from buzz_rust_spark import BuzzEngine
        from buzz_rust_spark.sources import CatalogFile, StaticCatalog

        files = datagen.write_monthly_lineitem(self.bench.seed, self.scale, self.dir)
        self.months = [m for _, m, _ in files]
        self.n_orders = datagen.sizes(self.scale)["orders"]
        self.catalog = StaticCatalog(
            name="lineitem_monthly",
            schema=spark_schema(files[0][0]),
            files=[
                CatalogFile(key=p, length=n, partitions=(("ship_month", m),))
                for p, m, n in files
            ],
            partition_cols=["ship_month"],
        )
        self.engine = BuzzEngine(self.spark, strict=True)
        self.engine.register_static(self.catalog)
        self.delta = DeltaAppendRead(self.bench)
        self.delta.checkpoint_interval = self.DELTA_CHECKPOINT_INTERVAL
        delta_inputs = self.delta.build()
        oracle = self.bench.oracle
        oracle.view(
            "lineitem_all",
            "SELECT * EXCLUDE (filename), regexp_extract(filename,"
            " '([0-9]{4}-[0-9]{2})[.]parquet$', 1) AS ship_month"
            f" FROM read_parquet('{self.dir}/*.parquet', filename = true)",
        )
        return {
            "files": len(files),
            "lineitem_rows": datagen.sizes(self.scale)["lineitem"],
            "bytes": sum(n for _, _, n in files),
            **{f"delta_{k}": v for k, v in delta_inputs.items()},
        }

    def _month_keys(self, m: int) -> int:
        """First l_orderkey whose order month is ``m``."""
        return -(-m * self.n_orders // datagen.N_MONTHS)

    def make_op(self, kind: str, rng) -> Op:
        if kind in self.DELTA_KINDS:
            return self.delta.make_op(kind, rng)
        kind, variant = kind.split(":")
        year = int(rng.integers(1995, 2001))
        month = self.months[int(rng.integers(0, len(self.months)))]
        pf = {
            "none": None,
            "year": f"ship_month LIKE '{year}-%'",
            "month": f"ship_month = '{month}'",
            "empty": f"ship_month = '{int(rng.integers(1980, 1995))}-06'",
            "stats": f"ship_month >= '{year}-01' AND ship_month <= '{year}-12'",
            "zoned": f"ship_month LIKE '{year}-%'",
        }[kind]
        stats = None
        if kind == "stats":
            first = (year - datagen.FIRST_MONTH[0]) * 12 + int(rng.integers(0, 9))
            stats = (
                f"l_orderkey >= {self._month_keys(first)}"
                f" AND l_orderkey < {self._month_keys(first + 3)}"
            )
        map_sql, reduce_sql = self.MAPS[variant]
        step0 = {"sql": map_sql, "name": "li_map", "step_type": "HBee"}
        if pf:
            step0["partition_filter"] = pf
        if stats:
            step0["stats_filter"] = stats
        steps = [step0, {"sql": reduce_sql, "name": "li_reduce", "step_type": "HComb"}]
        zones = self.ZONES if kind == "zoned" else 1
        text = buzz_json(
            steps, [{"name": "lineitem", "type": "Static", "uri": "lineitem_monthly"}], zones
        )
        return Op(
            f"{kind}:{variant}", text, info={"steps": steps, "pf": pf, "stats": stats, "zones": zones}
        )

    def before(self, op: Op) -> None:
        if op.kind in self.DELTA_KINDS:
            self.delta.before(op)

    def run(self, op: Op):
        if op.kind in self.DELTA_KINDS:
            return self.delta.run(op)
        from buzz_rust_spark.models import BuzzQuery

        df = self.engine.run(BuzzQuery.from_json(op.payload))
        return Result.from_spark(df.columns, self.engine.execute(df))

    def after(self, op: Op, result) -> None:
        if op.kind in self.DELTA_KINDS:
            self.delta.after(op, result)

    def layer_metrics(self, rec) -> dict:
        return self.delta.layer_metrics(rec)

    def _expected(self, op: Op) -> Result:
        oracle = self.bench.oracle
        pf, stats, steps = op.info["pf"], op.info["stats"], op.info["steps"]
        where = " AND ".join(f"({c})" for c in (pf, stats) if c) or "TRUE"
        kept = [
            r[0]
            for r in oracle.con.execute(
                f"SELECT ship_month FROM (SELECT UNNEST(?) AS ship_month) WHERE {pf or 'TRUE'}",
                [self.months],
            ).fetchall()
        ]
        used = min(op.info["zones"], len(kept))
        zones = [kept[z::used] for z in range(used)] if used > 1 else [None]
        rows, cols = [], []
        for months in zones:
            scope = where
            if months is not None:
                scope += " AND ship_month IN (" + ", ".join(f"'{m}'" for m in months) + ")"
            base = {"lineitem": f"SELECT * FROM lineitem_all WHERE {scope}"}
            part = oracle.answer(cte_sql(steps, base))
            rows += part.rows
            cols = part.columns
        return Result(cols, rows) if used > 1 else part

    def check(self, op: Op, result) -> bool:
        if op.kind in self.DELTA_KINDS:
            return self.delta.check(op, result)
        return same(result, self._expected(op), op.atol)


# ---------------------------------------------------------------------------


class ReduceHeavy(Workload):
    name = "reduce_heavy"
    why = "multi-step joins, windows and top-k over single-file catalogs: Spark execution dominates"
    scale = 0.05
    block_kinds = ["multi_step", "revenue_topk", "window_rank"]

    def build(self) -> dict:
        from buzz_rust_spark import BuzzEngine

        self.paths = datagen.write_tables(
            self.bench.seed, self.scale, self.dir, ["lineitem", "orders", "customer"]
        )
        self.engine = BuzzEngine(self.spark)
        for name, path in self.paths.items():
            self.bench.oracle.view(name, f"SELECT * FROM read_parquet('{path}')")
        n = datagen.sizes(self.scale)
        return {f"{t}_rows": n[t] for t in self.paths}

    def _catalogs(self, *names: str) -> list[dict]:
        return [{"name": t, "type": "ParquetDir", "uri": self.paths[t]} for t in names]

    def make_op(self, kind: str, rng) -> Op:
        atol = 0.0
        if kind == "multi_step":
            # the shape of examples/query_multi_step.json
            status = ["F", "O"][int(rng.integers(0, 2))]
            steps = [
                {
                    "sql": f"SELECT o_custkey, o_totalprice FROM orders WHERE o_orderstatus = '{status}'",
                    "name": "finished_orders",
                    "step_type": "HBee",
                },
                {
                    "sql": "SELECT o_custkey, SUM(o_totalprice) AS spend, COUNT(*) AS n"
                    " FROM finished_orders GROUP BY o_custkey",
                    "name": "spend_per_customer",
                    "step_type": "HComb",
                },
                {
                    "sql": "SELECT c.c_mktsegment, ROUND(SUM(s.spend), 2) AS segment_spend"
                    " FROM spend_per_customer s JOIN customer c ON s.o_custkey = c.c_custkey"
                    " GROUP BY c.c_mktsegment ORDER BY segment_spend DESC",
                    "name": "segment_totals",
                    "step_type": "HComb",
                },
            ]
            catalogs = self._catalogs("orders", "customer")
            atol = 0.011  # ROUND(.., 2) of a sum whose order differs by engine
        elif kind == "revenue_topk":
            since = f"{int(rng.integers(1995, 2001))}-{int(rng.integers(1, 13)):02d}-01"
            k = int(rng.choice([10, 20]))
            steps = [
                {
                    "sql": "SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue"
                    f" FROM lineitem WHERE l_shipdate >= '{since}' GROUP BY l_orderkey",
                    "name": "order_revenue",
                    "step_type": "HBee",
                },
                {
                    "sql": "SELECT r.l_orderkey, o.o_orderdate, o.o_orderpriority, r.revenue"
                    " FROM order_revenue r JOIN orders o ON r.l_orderkey = o.o_orderkey"
                    f" ORDER BY r.revenue DESC, r.l_orderkey LIMIT {k}",
                    "name": "top_orders",
                    "step_type": "HComb",
                },
            ]
            catalogs = self._catalogs("lineitem", "orders")
        else:
            priority = datagen.PRIORITIES[int(rng.integers(0, len(datagen.PRIORITIES)))]
            depth = int(rng.integers(2, 5))
            steps = [
                {
                    "sql": "SELECT o_custkey, o_orderkey, o_totalprice FROM orders"
                    f" WHERE o_orderpriority = '{priority}'",
                    "name": "picked",
                    "step_type": "HBee",
                },
                {
                    "sql": "SELECT o_custkey, o_totalprice, RANK() OVER (PARTITION BY o_custkey"
                    " ORDER BY o_totalprice DESC, o_orderkey) AS rnk FROM picked",
                    "name": "ranked",
                    "step_type": "HComb",
                },
                {
                    "sql": "SELECT rnk, COUNT(*) AS n, SUM(o_totalprice) AS total FROM ranked"
                    f" WHERE rnk <= {depth} GROUP BY rnk ORDER BY rnk",
                    "name": "rank_totals",
                    "step_type": "HComb",
                },
            ]
            catalogs = self._catalogs("orders")
        return Op(kind, buzz_json(steps, catalogs), atol=atol, info={"steps": steps})

    def run(self, op: Op):
        from buzz_rust_spark.models import BuzzQuery

        df = self.engine.run(BuzzQuery.from_json(op.payload))
        return Result.from_spark(df.columns, self.engine.execute(df))

    def check(self, op: Op, result) -> bool:
        return same(result, self.bench.oracle.answer(cte_sql(op.info["steps"])), op.atol)


# ---------------------------------------------------------------------------


class DeltaAppendRead(Workload):
    name = "delta_append_read"
    why = "appends beside partition-filtered reads of a growing Delta table: log replay and checkpoints"
    scale = 0.1
    block_kinds = ["append", "read"]
    warmup_kinds = ["append", "read", "append", "read"]
    BATCH_ROWS = 2000
    checkpoint_interval = 10  # write_delta's default
    PREPARED_BATCHES = 32  # more are generated, untimed, if a run needs them
    READ_STEPS = [
        {
            "sql": "SELECT region, COUNT(*) AS n, SUM(qty) AS qty, SUM(amount) AS amount"
            " FROM events GROUP BY region",
            "name": "ev_map",
            "step_type": "HBee",
        },
        {
            "sql": "SELECT region, SUM(n) AS n, SUM(qty) AS qty, SUM(amount) AS amount"
            " FROM ev_map GROUP BY region ORDER BY region",
            "name": "ev_reduce",
            "step_type": "HComb",
        },
    ]

    def build(self) -> dict:
        from buzz_rust_spark import BuzzEngine
        from buzz_rust_spark.sources import delta_writer

        datagen.fresh_dir(self.dir)
        self.table = os.path.join(self.dir, "events")
        self.batch_dir = os.path.join(self.dir, "batches")
        os.makedirs(self.batch_dir)
        seed_rows = max(int(200_000 * self.scale), 200)
        seed_path = self._write_batch("seed", seed_rows)
        self.schema = spark_schema(seed_path)
        self.totals: dict[str, list[float]] = {}
        self._add_totals(seed_path)
        self.next_batch = 0
        for i in range(self.PREPARED_BATCHES):
            self._write_batch(f"batch{i}", self.BATCH_ROWS)
        self.version = delta_writer.write_delta(
            self.spark.read.schema(self.schema).parquet(seed_path),
            self.table,
            mode="append",
            partition_by=["region"],
            checkpoint_interval=self.checkpoint_interval,
        )
        self.engine = BuzzEngine(self.spark, strict=True)
        return {"seed_rows": seed_rows, "batch_rows": self.BATCH_ROWS}

    def _write_batch(self, stream: str, n: int) -> str:
        path = os.path.join(self.batch_dir, f"{stream}.parquet")
        pq.write_table(datagen.delta_rows(self.bench.seed, stream, n), path)
        return path

    def _add_totals(self, path: str) -> None:
        t = pq.read_table(path).to_pandas()
        for region, g in t.groupby("region"):
            acc = self.totals.setdefault(region, [0, 0.0, 0.0])
            acc[0] += len(g)
            acc[1] += float(g["qty"].sum())
            acc[2] += float(g["amount"].sum())

    def make_op(self, kind: str, rng) -> Op:
        if kind == "append":
            self.next_batch += 1
            return Op("append", self.next_batch - 1, query=False)
        regions = sorted(rng.choice(datagen.DELTA_REGIONS, size=2, replace=False))
        step0 = dict(self.READ_STEPS[0])
        step0["partition_filter"] = "region IN (" + ", ".join(f"'{r}'" for r in regions) + ")"
        text = buzz_json(
            [step0, self.READ_STEPS[1]],
            [{"name": "events", "type": "DeltaLake", "uri": self.table}],
        )
        return Op("read", text, info={"regions": regions})

    def _log_state(self) -> dict:
        """Checkpoints, JSON commits after the last checkpoint, and bytes
        under the table, counted from the table directory."""
        log = os.path.join(self.table, "_delta_log")
        names = os.listdir(log)
        last = -1
        if "_last_checkpoint" in names:
            with open(os.path.join(log, "_last_checkpoint")) as fh:
                last = json.load(fh)["version"]
        size = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.table) for f in fs
        )
        return {
            "checkpoints": sum(1 for n in names if ".checkpoint." in n and n.endswith(".parquet")),
            "commits_after_checkpoint": sum(
                1 for n in names
                if n.endswith(".json") and n.split(".")[0].isdigit() and int(n.split(".")[0]) > last
            ),
            "bytes": size,
        }

    def before(self, op: Op) -> None:
        if self.bench.recorder is not None and op.kind == "append":
            op.info["log_before"] = self._log_state()
        if op.kind == "append":
            path = os.path.join(self.batch_dir, f"batch{op.payload}.parquet")
            if not os.path.exists(path):
                self._write_batch(f"batch{op.payload}", self.BATCH_ROWS)
            op.info["path"] = path
            op.info["bytes"] = os.path.getsize(path)
            op.info["df"] = self.spark.read.schema(self.schema).parquet(path)
            op.expected = self.version + 1
        else:
            rows = [
                (r, self.totals[r][0], self.totals[r][1], self.totals[r][2])
                for r in op.info["regions"]
                if r in self.totals
            ]
            op.expected = Result(["region", "n", "qty", "amount"], rows)

    def run(self, op: Op):
        if op.kind == "append":
            from buzz_rust_spark.sources import delta_writer

            return delta_writer.write_delta(
                op.info.pop("df"), self.table, mode="append", partition_by=["region"],
                checkpoint_interval=self.checkpoint_interval,
            )
        from buzz_rust_spark.models import BuzzQuery

        df = self.engine.run(BuzzQuery.from_json(op.payload))
        return Result.from_spark(df.columns, self.engine.execute(df))

    def after(self, op: Op, result) -> None:
        if op.kind == "append":
            self.version = result
            self._add_totals(op.info["path"])
        if self.bench.recorder is not None:
            op.info["log_after"] = self._log_state()

    def layer_metrics(self, rec) -> dict:
        reads = [op for op in rec.ops if op.kind == "read" and "log_after" in op.info]
        appends = [op for op in rec.ops if op.kind == "append" and "log_after" in op.info]
        snapshots = [s for s in rec.spans if s.name == "delta_catalog.snapshot" and "result" in s.info]
        added = sum(op.info["log_after"]["bytes"] - op.info["log_before"]["bytes"] for op in appends)
        batch = sum(op.info["bytes"] for op in appends)
        return {
            "delta_catalog.commits_replayed": (
                float(np.mean([op.info["log_after"]["commits_after_checkpoint"] for op in reads]))
                if reads else 0.0,
                "count",
            ),
            "delta_catalog.live_files": (
                float(np.mean([len(s.info["result"].files) for s in snapshots])) if snapshots else 0.0,
                "count",
            ),
            "delta_writer.checkpoints": (
                sum(
                    op.info["log_after"]["checkpoints"] - op.info["log_before"]["checkpoints"]
                    for op in appends
                ) / len(appends) if appends else 0.0,
                "count",
            ),
            "delta_writer.bytes_per_input_byte": (added / batch if batch else 0.0, "ratio"),
        }

    def check(self, op: Op, result) -> bool:
        if op.kind == "append":
            return result == op.expected
        return same(result, op.expected)


# ---------------------------------------------------------------------------


class PipelineOperators(Workload):
    name = "pipeline_operators"
    why = "registry dedup, similarity and text operators through a noop sink: no engine or catalog work"
    scale = 0.02
    block_kinds = [
        "d02_ngram_jaccard",
        "d03_minhash_lsh",
        "d05_embedding_neardup",
        "s01_ann_bruteforce",
        "t05_top_ngrams",
    ]
    settle_blocks = 3  # short blocks; latency levels off after 15-20 operations

    def build(self) -> dict:
        from buzz_rust_spark.queries import all_queries

        self.queries = all_queries()
        self.paths = datagen.write_tables(
            self.bench.seed, self.scale, self.dir, ["documents", "embeddings"]
        )
        for name, path in self.paths.items():
            self.bench.oracle.view(name, f"SELECT * FROM read_parquet('{path}')")
        self.verified: dict[str, bool] = {}
        n = datagen.sizes(self.scale)
        return {f"{t}_rows": n[t] for t in self.paths}

    def make_op(self, kind: str, rng) -> Op:
        return Op(kind, kind, atol=2e-6)

    def before(self, op: Op) -> None:
        self.spark.catalog.clearCache()

    def run(self, op: Op):
        df = self.queries[op.kind].fn(self.spark, self.dir)
        if op.info.get("collect"):
            return Result.from_spark(df.columns, df.collect())
        df.write.format("noop").mode("overwrite").save()
        return None

    def warmup_ops(self) -> list[Op]:
        ops = super().warmup_ops()
        for op in ops:
            op.info["collect"] = True
        return ops

    def oracle_sql(self, kind: str) -> str:
        """The registry's DuckDB oracle.  The exact near-duplicate pair
        oracle compares every pair of documents (O(n^2) list intersections,
        ~40 s at 1,000 documents); it is replaced by the same shingles and
        Jaccard formula evaluated only on pairs sharing a shingle, which
        yields the same rows because a pair at Jaccard >= 0.5 shares one."""
        from buzz_rust_spark.queries import pipeline

        sql = self.queries[kind].oracle
        if sql == getattr(pipeline, "_TRUE_PAIRS", None):
            return pipeline._SHINGLES_CTE + self.CANDIDATE_PAIRS
        return sql

    CANDIDATE_PAIRS = """
, ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
cand AS (
  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
)
SELECT a.doc_id AS id_1, b.doc_id AS id_2,
       ROUND(len(list_intersect(a.shingles, b.shingles))::DOUBLE
             / len(list_distinct(a.shingles || b.shingles)), 6) AS jaccard
FROM cand JOIN sh a ON a.doc_id = cand.i JOIN sh b ON b.doc_id = cand.j
WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
      / len(list_distinct(a.shingles || b.shingles)) >= 0.5
"""

    def check(self, op: Op, result) -> bool:
        if result is None:
            # noop sink: nothing to compare; the operator's answer was
            # verified against the oracle when it ran in the warm-up
            return self.verified.get(op.kind, False)
        ok = same(result, self.bench.oracle.answer(self.oracle_sql(op.kind)), op.atol)
        self.verified[op.kind] = ok
        return ok


WORKLOADS = {
    w.name: w for w in (CatalogMix, ReduceHeavy, DeltaAppendRead, PipelineOperators)
}
